"""Streaming sinks: exactly-once parquet output via foreachBatch +
idempotent partition overwrite.

Structured Streaming's file sink is append-only; a crashed-and-retried
micro-batch appends its rows TWICE. The standard fix is
``foreachBatch`` + an idempotent batch write: dynamic partition
overwrite replaces each partition the batch touches, so re-running a
micro-batch converges to the same files instead of duplicating them
(the checkpoint's epoch tracking plus write idempotence = effective
exactly-once).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.writers import overwrite_partitions


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the JVM context's currently persisted RDDs — the diff
    unit :func:`release_new_persistent_rdds` uses to release exactly
    the blocks one code region pinned (localCheckpoint blocks live at
    RDD level, where ``DataFrame.unpersist`` never reaches)."""
    ids: set[int] = set()
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        ids.add(it.next().getKey())
    return ids


def release_new_persistent_rdds(spark, before: set[int]) -> int:
    """Unpersist every RDD the context pinned since ``before`` (a
    :func:`persistent_rdd_ids` snapshot) — the only way to release
    ``localCheckpoint`` blocks promptly, since they live below the SQL
    cache manager where ``DataFrame.unpersist`` is a no-op.

    ASSUMPTION (r12 ADVICE): the snapshot-diff attributes every block
    persisted during the region to the region — a query or stream
    running CONCURRENTLY in the same SparkSession would have its own
    fresh localCheckpoint blocks (truncated lineage, unrecomputable)
    unpersisted out from under it. All callers here run one driver
    workload at a time (gate queries, the bench, the scale probe, one
    stream per session), which is the deployment this engine's
    single-session tools guarantee; a multi-tenant session must scope
    the region to its own RDD ids instead of a context-wide diff.
    Returns the number of RDDs released."""
    released = 0
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if e.getKey() not in before:
            e.getValue().unpersist(False)
            released += 1
    return released


def partition_overwrite_batch_writer(
    path: str,
    partition_by: Sequence[str],
    *,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callback: optionally transform the
    micro-batch, then idempotently overwrite exactly the partitions it
    contains. Retrying the same epoch rewrites the same partitions with
    the same rows — no duplicates."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        out = transform(batch) if transform is not None else batch
        if out.isEmpty():
            return
        overwrite_partitions(out, path, partition_by)

    return write


def run_stream_with_batch_sink(
    stream: DataFrame,
    path: str,
    partition_by: Sequence[str],
    *,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Drain a bounded stream through the idempotent partition sink
    (availableNow, so tests and backfills terminate)."""
    (
        stream.writeStream.foreachBatch(
            partition_overwrite_batch_writer(path, partition_by, transform=transform)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def cow_merge_batch_writer(
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    *,
    delete_col: str | None = None,
    compact: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callback that MERGEs each micro-batch into a
    copy-on-write parquet table — the streaming CDC-apply pattern
    (Kafka change feed -> continuously maintained table) on plain
    parquet, no lakehouse library.

    Exactly-once story: ``merge_cow_table`` is idempotent for a given
    batch (re-applying converges — the crash-retry property pinned by
    tests/test_cow_table.py), and the stream checkpoint replays at
    micro-batch granularity, so a crashed epoch re-merges to the same
    state instead of double-applying.

    ``compact``: optional pre-merge reduction (e.g. latest-per-key via
    ``operators.dedup.top_n_per_group``) — a CDC batch must carry at
    most one row per key before merging.
    """

    def write(batch: DataFrame, epoch_id: int) -> None:
        from ..sinks.cowtable import merge_cow_table

        out = compact(batch) if compact is not None else batch
        if out.isEmpty():
            return
        merge_cow_table(
            batch.sparkSession, path, out, keys, partition_by, delete_col=delete_col
        )

    return write


def versioned_merge_batch_writer(
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    *,
    delete_col: str | None = None,
    compact: Callable[[DataFrame], DataFrame] | None = None,
    app_id: str = "stream",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` CDC-apply into the VERSIONED table
    (sinks.versioned): each micro-batch lands as one atomic table
    version, so the stream's history becomes a queryable audit log —
    ``read_versioned_table(version=N)`` is the table exactly as of
    micro-batch N's commit.

    Exactly-once here is TRANSACTIONAL, not merely convergent: the
    merge records ``(app_id, epoch_id)`` in the manifest it publishes,
    and a replayed epoch (crash between the table commit and the
    checkpoint commit) is detected inside the same atomic rename that
    would publish it — skipped outright rather than re-applied. That
    is strictly stronger than the CoW writer's idempotent-re-merge
    story and holds even with concurrent writers on the same table.
    """

    def write(batch: DataFrame, epoch_id: int) -> None:
        from ..sinks.versioned import merge_versioned_table

        out = compact(batch) if compact is not None else batch
        if out.isEmpty():
            return
        merge_versioned_table(
            batch.sparkSession,
            path,
            out,
            keys,
            partition_by,
            delete_col=delete_col,
            txn=(app_id, epoch_id),
        )

    return write


def cms_batch_writer(
    path: str,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    app_id: str = "cms-stream",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` writer maintaining a LIVE Count-Min sketch
    (llm/sketches.py) in a versioned table: each micro-batch's delta
    sketch adds cell-wise into the stored grid, so the table always
    holds the frequency sketch of everything streamed so far — queryable
    mid-stream with ``cms_estimate``, time-travelable per micro-batch
    (version N = the sketch as of batch N), and bounded at
    depth*width cells forever no matter how many keys stream by.

    Exactly-once: the ADD must not double-apply on epoch replay, so the
    merge carries ``txn=(app_id, epoch_id)`` — the same atomic
    manifest-rename idempotence as the CDC writer, which matters more
    here because a replayed ADD is silently wrong (counts inflate)
    rather than merely redundant. The table is created EMPTY up front
    so the first data batch also rides the transactional path."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        from ..llm.sketches import count_min_cells
        from ..sinks.versioned import (
            VersionedTableError,
            create_versioned_table,
            list_versions,
            merge_versioned_table,
        )

        spark = batch.sparkSession
        # create-before-empty-check: the table must exist from batch 0
        # even when the stream cold-starts empty — mid-stream consumers
        # read the (empty) sketch rather than hitting a missing manifest
        if not list_versions(spark, path):
            try:
                empty = spark.createDataFrame([], "row int, bucket long, c long")
                create_versioned_table(empty, path, ["row"])
            except VersionedTableError:
                pass  # another writer / a replay created it — fine
        if batch.isEmpty():
            return  # nothing to add this epoch
        # pin the delta once (deterministic per epoch) — the ADD side
        # is recomputed per merge ATTEMPT instead: a stale pre-read
        # would commit sums that overwrite a concurrent writer's counts
        # if this merge loses the optimistic race and retries (r4
        # advice: lost update). The callable receives each attempt's
        # fresh snapshot, making read-add-merge atomic under the
        # manifest-rename concurrency protocol.
        delta = count_min_cells(batch, key_col, depth=depth, width=width).localCheckpoint(
            eager=True
        )
        d = delta.select("row", "bucket", F.col("c").alias("__d"))

        def summed(snapshot: DataFrame) -> DataFrame:
            c = snapshot.select("row", "bucket", F.col("c").alias("__c"))
            return d.join(c, ["row", "bucket"], "left").select(
                F.col("row").cast("int").alias("row"),
                F.col("bucket").cast("long").alias("bucket"),
                (F.col("__d") + F.coalesce(F.col("__c"), F.lit(0))).cast("long").alias("c"),
            )

        merge_versioned_table(
            spark,
            path,
            summed,
            ["row", "bucket"],
            ["row"],
            txn=(app_id, epoch_id),
        )

    return write


def signature_dedup_batch_writer(
    sig_table: str,
    pairs_table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    id_partition_range: int = 10_000,
    app_id: str = "sig-dedup",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` CONTINUOUS incremental near-dedup — the
    streaming face of the nightly ``dedup_*_incremental_served``
    queries: per micro-batch of (id, text) documents,

    1. MinHash signatures are computed for the ARRIVING BATCH ONLY
       (historic payloads are never re-shingled);
    2. the batch signatures MERGE into the versioned SIGNATURE STORE
       as one atomic version (``txn=(app_id, epoch)`` — a replayed
       epoch is skipped inside the publishing rename, the repo's
       transactional exactly-once);
    3. candidate pairs TOUCHING THE BATCH are generated over the
       post-merge snapshot with the batch membership carried as a
       boolean column INTO grouped-bucket pair generation
       (``lsh_candidate_pairs(batch=F.col("__new"))`` — a stream's
       batch is data-defined, not an id predicate, so the flag comes
       from a join against the arriving ids); old-vs-old pairs never
       materialize;
    4. the new pairs MERGE into the verdict table keyed on
       (doc_a, doc_b), partitioned by the epoch that discovered them
       (append-shaped copy-on-write: an epoch's merge writes only its
       own partition unless it re-finds an existing pair).

    Invariant (pytest + the registered query's oracle pin it): with
    unique doc ids across the stream, EVERY true candidate pair is
    discovered exactly once — at the arrival of its later side — so
    after the stream drains, the pairs table equals the full-corpus
    batch recompute REGARDLESS of how the rows were split into
    micro-batches. (Uncapped buckets: a bucket-size cap would make the
    result arrival-order-dependent — a bucket can be under the cap
    when early pairs emit and over it in the final corpus.)

    Crash between the two merges: the signature merge's txn marker
    makes the replay skip step 2, while step 3 recomputes the same
    pairs from the (already merged) snapshot and step 4's own txn
    marker admits them once — both tables converge.

    The signature store partitions by ``id div id_partition_range``:
    monotone-id streams (log offsets, snowflake ids) touch only tail
    partitions per merge, so per-epoch index maintenance stays
    batch-sized."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        from ..llm.dedup import lsh_candidate_pairs, minhash_signatures
        from ..sinks.versioned import (
            create_versioned_table,
            list_versions,
            merge_versioned_table,
            read_versioned_table,
        )

        spark = batch.sparkSession
        sigs_b = minhash_signatures(
            batch, text_col, id_col, k_shingle=k_shingle, num_hashes=num_hashes
        ).withColumn(
            "id_range", (F.col(id_col) / F.lit(id_partition_range)).cast("bigint")
        )
        if sigs_b.isEmpty():
            return
        if not list_versions(spark, sig_table):
            # bootstrap epoch: the create is convergent (same keys
            # re-upsert to the same rows), transactional thereafter
            create_versioned_table(sigs_b, sig_table, ["id_range"])
        else:
            merge_versioned_table(
                spark,
                sig_table,
                sigs_b,
                keys=[id_col],
                partition_by=["id_range"],
                txn=(app_id, epoch_id),
            )
        snap = read_versioned_table(spark, sig_table)
        flags = sigs_b.select(F.col(id_col)).withColumn("__new", F.lit(True))
        flagged = snap.join(flags, id_col, "left").withColumn(
            "__new", F.coalesce(F.col("__new"), F.lit(False))
        )
        pairs = lsh_candidate_pairs(
            flagged.select(id_col, "signature", "__new"),
            id_col,
            bands=bands,
            rows_per_band=rows_per_band,
            batch=F.col("__new"),
        ).withColumn("found_epoch", F.lit(int(epoch_id)).cast("bigint"))
        if not list_versions(spark, pairs_table):
            create_versioned_table(pairs, pairs_table, ["found_epoch"])
        else:
            merge_versioned_table(
                spark,
                pairs_table,
                pairs,
                keys=["doc_a", "doc_b"],
                partition_by=["found_epoch"],
                txn=(app_id, epoch_id),
            )

    return write


def run_signature_dedup_stream(
    stream: DataFrame,
    sig_table: str,
    pairs_table: str,
    *,
    checkpoint_dir: str,
    **writer_kwargs,
) -> None:
    """Drain a bounded document stream through the continuous
    incremental-dedup writer (availableNow, so tests and backfills
    terminate)."""
    (
        stream.writeStream.foreachBatch(
            signature_dedup_batch_writer(sig_table, pairs_table, **writer_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def corpus_factory_batch_writer(
    state_table: str,
    out_table: str,
    *,
    app_id: str = "corpus-factory",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` CONTINUOUS corpus factory — the streaming face
    of ``pipeline_corpus_factory_nightly``: per micro-batch of
    (doc_id, text) documents,

    1. web prep runs for the ARRIVING BATCH ONLY (URL canon -> mirror
       dedup scoped WITHIN the batch -> HTML extraction -> canopy
       content fingerprint) — historic payloads are never re-prepped;
    2. the batch's content state MERGEs into the versioned state table
       as one atomic ingest-bucket version (``txn=(app_id, epoch)`` —
       a replayed epoch is skipped inside the publishing rename);
    3. dedup verdicts come from the post-merge snapshot under
       ARRIVAL-ORDER ownership (lexicographic min of (ingest_bucket,
       doc_id) per fingerprint — content an earlier epoch packed can
       never be re-owned);
    4. quality-passing verdict rows land in the output table with
       pack placement CONTINUING from prior epochs' survivor token
       total — read from the OUTPUT table (prior verdicts are final
       by the precedence rule), filtered to nights < this epoch so a
       crash-replayed epoch recomputes the identical base.

    After the stream drains, the output table equals the one
    sequential replay of the nights regardless of crash/retry — the
    registered query's oracle replays all nights as windowed SQL and
    value-hashes the whole table."""

    def _write_epoch(batch: DataFrame, epoch_id: int) -> None:
        from ..sinks.indexes import IncrementalIndexStore
        from ..sinks.versioned import list_versions
        from ..workloads.llm import (
            _FACTORY_FP_TOKENS,
            _FACTORY_MIN_WORDS,
            _FACTORY_PACK,
            web_corpus_prep,
        )
        from ..operators.rowids import running_total

        spark = batch.sparkSession
        if batch.isEmpty():
            return
        # store plumbing on sinks.indexes since r14 (the r12-declared
        # lifecycle consolidation): build/merge/serve call the same
        # versioned-table functions with the same arguments the inline
        # wiring did — epoch 0 is the historic build, later epochs
        # merge with the exactly-once txn key. Pure plumbing; layouts,
        # versions and hashes are unchanged.
        state_store = IncrementalIndexStore(
            spark, state_table, keys=["doc_id"], partition_by=["ingest_bucket"]
        )
        out_store = IncrementalIndexStore(
            spark, out_table, keys=["doc_id"], partition_by=["night"]
        )
        prep_b = (
            web_corpus_prep(batch, fp_prefix_tokens=_FACTORY_FP_TOKENS)
            .select("doc_id", "canon_url", "n_mirrors", "n_words_main", "content_fp")
            .localCheckpoint(eager=True)  # merge + verdicts consume it
        )
        state_b = prep_b.select("doc_id", "content_fp", "n_words_main").withColumn(
            "ingest_bucket", F.lit(int(epoch_id)).cast("bigint")
        )
        if not list_versions(spark, state_table):
            state_store.build(state_b)
        else:
            state_store.merge(state_b, txn=(f"{app_id}-state", epoch_id))
        store = state_store.serve()
        fp_owner = (
            store.groupBy("content_fp")
            .agg(F.min(F.struct("ingest_bucket", "doc_id")).alias("o"))
            .select("content_fp", F.col("o.doc_id").alias("owner"))
        )
        batch_q = (
            prep_b.where(F.col("n_words_main") >= _FACTORY_MIN_WORDS)
            .join(fp_owner.hint("merge"), "content_fp")
            .select(
                "doc_id",
                "canon_url",
                "n_mirrors",
                "n_words_main",
                "content_fp",
                (F.col("doc_id") == F.col("owner")).alias("is_survivor"),
            )
            .localCheckpoint(eager=True)
        )
        if list_versions(spark, out_table):
            base = (
                out_store.serve()
                .where(
                    (F.col("night") < F.lit(int(epoch_id))) & F.col("is_survivor")
                )
                .agg(
                    F.coalesce(F.sum("n_words_main"), F.lit(0))
                    .cast("bigint")
                    .alias("base_tokens")
                )
            )
        else:
            base = spark.range(1).select(
                F.lit(0).cast("bigint").alias("base_tokens")
            )
        packed = running_total(
            batch_q.where(F.col("is_survivor")).select("doc_id", "n_words_main"),
            ["doc_id"],
            "n_words_main",
            out_col="__cum",
        ).select("doc_id", (F.col("__cum") - F.col("n_words_main")).alias("rel_off"))
        off = F.col("rel_off") + F.col("base_tokens")
        out = (
            batch_q.join(packed.hint("merge"), "doc_id", "left")
            .crossJoin(F.broadcast(base))
            .select(
                "doc_id",
                "canon_url",
                "n_mirrors",
                "content_fp",
                "n_words_main",
                "is_survivor",
                F.lit(int(epoch_id)).cast("int").alias("night"),
                F.coalesce(off, F.lit(-1)).cast("bigint").alias("start_offset"),
                F.coalesce(F.floor(off / F.lit(_FACTORY_PACK)), F.lit(-1))
                .cast("bigint")
                .alias("pack_id"),
            )
        )
        if not list_versions(spark, out_table):
            out_store.build(out)
        else:
            out_store.merge(out, txn=(f"{app_id}-out", epoch_id))
    def write(batch: DataFrame, epoch_id: int) -> None:
        # release the micro-batch's checkpointed blocks before the
        # epoch returns (r11 ADVICE): an always-on deployment runs
        # thousands of epochs per session, and waiting for the async
        # ContextCleaner to notice the Python refcounts is exactly the
        # persistent-block accumulation mode bench.py/scale_probe
        # sweep between queries (2-3x slowdown / off-heap OOM).
        # DataFrame.unpersist() can't do it — localCheckpoint blocks
        # are RDD-level, invisible to the SQL cache manager — so diff
        # the context's persistent-RDD ids around the epoch body and
        # drop what this epoch pinned. Pre-existing blocks another
        # live query holds are safe (they're in `before`); blocks
        # persisted CONCURRENTLY during the epoch body are not — see
        # release_new_persistent_rdds' single-workload assumption
        # (one stream per session, which run_corpus_factory_stream's
        # availableNow drain and the exactly-once txn key both already
        # presume).
        spark = batch.sparkSession
        before = persistent_rdd_ids(spark)
        try:
            _write_epoch(batch, epoch_id)
        finally:
            release_new_persistent_rdds(spark, before)

    return write


def run_corpus_factory_stream(
    stream: DataFrame,
    state_table: str,
    out_table: str,
    *,
    checkpoint_dir: str,
    **writer_kwargs,
) -> None:
    """Drain a bounded document stream through the continuous corpus
    factory (availableNow, so tests and backfills terminate)."""
    (
        stream.writeStream.foreachBatch(
            corpus_factory_batch_writer(state_table, out_table, **writer_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
