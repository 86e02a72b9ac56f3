"""Deduplication operators for document corpora.

Four families, in increasing fuzziness:

- **exact**       — hash-group on the raw (or fingerprinted) text; one
  shuffle keyed by the hash, no driver involvement.
- **n-gram Jaccard** — shingle -> explode -> self-join on shingle ->
  per-pair overlap counts. The self-join is keyed on the shingle, so
  at 100 TB hot shingles (boilerplate phrases) skew the join: the
  ``max_shingle_freq`` knob drops shingles shared by more than N docs
  (stop-shingle pruning) before the join, the standard fix.
- **MinHash + LSH** — per-doc signature (k min-hashes), banded into
  buckets; only docs sharing a bucket are candidate pairs. Turns the
  O(n²) similarity join into one shuffle on (band, bucket-hash) with
  pairs generated per bucket — the scale path for corpus-level
  near-dedup.
- **SimHash** — 64-bit fingerprint whose hamming distance tracks
  cosine similarity of the token multiset; computed in a vectorized
  Pandas UDF (bit-twiddling beats SQL expressions here).

MinHash values are md5-derived but carried as integers — the first 8
md5 bytes as an unsigned 64-bit value in ``DECIMAL(20,0)``: md5 is
bit-identical in every engine (so any SQL oracle reproduces the exact
same integers and minima), while fixed-size decimal minima keep the
signature aggregate hash-based (``min(string)`` falls back to
SortAggregate in Spark — see ``minhash_signatures``). Swap in xxhash64
for raw speed if signatures never leave Spark.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import ensure_min_partitions
from .text import shingles, tokenize


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, keep_id = min id, n_copies)."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select(F.md5(F.col(text_col)).alias("text_hash"), "keep_id", "n_copies")


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) pairs, distinct per doc. Shingling is the heavy
    per-row stage — spread it over all cores even for few-file inputs."""
    sh = shingles(tokenize(F.col(text_col)), k=k)
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.1,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-k-gram Jaccard >= threshold.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    to 4 decimals.

    Shape: group shingle -> sorted doc list, then *generate* the pairs
    from each bucket (higher-order transform), instead of a self-join on
    the shingle — one shuffle on the shingle plus one on the pair,
    measured ~35% faster than the equi-self-join at sf0.1 with identical
    output. ``max_shingle_freq`` (the corpus-scale skew guard) becomes a
    free ``size(bucket) <= cap`` filter: a hot boilerplate shingle with
    B docs would otherwise emit B(B-1)/2 pairs.

    The bucket aggregate (tokenize -> shingle-explode -> collect_list —
    the most expensive stage of the whole dedup) fans out to THREE
    consumers: the pair generator plus both sides of the sizes join.
    Catalyst does not reuse the subtree across those branches (a plan
    audit counted 22 Exchanges, 0 ReusedExchange = the shingle pipeline
    ran 3x), so an eager ``localCheckpoint`` after the aggregate cuts
    the lineage — the shingle stage runs
    exactly once and all three consumers scan the stored partitions.
    Same pattern as ``operators/graph.py``'s per-round checkpoint; the
    same caveat applies (localCheckpoint is not fault-tolerant — on a
    real cluster with lossy executors, swap for a reliable checkpoint
    dir). ``sizes`` (one short row per doc) is checkpointed too so the
    ``sa``/``sb`` join branches share one aggregation instead of two.
    """
    counts = _pair_overlap_counts(
        df, text_col, id_col, k=k, max_shingle_freq=max_shingle_freq
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        counts.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _pair_overlap_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """Shared machinery of the set-overlap dedup family: per-pair
    ``(doc_a, doc_b, shared, na, nb)`` where ``shared`` is the count of
    common shingles and ``na``/``nb`` the per-doc distinct-shingle
    counts (over the possibly frequency-pruned shingle universe, so
    numerators and denominators agree). Jaccard, containment, and
    overlap coefficients are all pure projections of these three
    counts."""
    sh = _doc_shingles(df, text_col, id_col, k).select(F.col(id_col).alias("doc"), "shingle")
    # UNPINNED grouping exchange: unlike the quadratic pair generators
    # (_bucket_pairs, fuzzy, recsys — their pins stay), this family's
    # explode multiplier is ~1 by construction (shingle buckets are
    # near-singleton; hot ones are capped), so a pin buys no
    # parallelism and taxes the aggregate, the checkpoint and every
    # downstream stage with full-width task overhead. Measured A/B (min
    # over 3 alternating fresh processes, best-of-2 each): pinned
    # 4.41/3.00 s vs unpinned 3.07/2.50 s on
    # dedup_ngram_jaccard{,_pruned}. A post-checkpoint
    # ensure_min_partitions fan-out was also tried and rejected: the
    # grouped rows carry the whole corpus as __docs arrays, so the
    # "cheap" round-robin is a full corpus shuffle at small scale
    # (measured 4.37 s — as bad as the pin) and a no-op at large scale
    # (multi-partition checkpoints).
    buckets = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc")).alias("__docs")
    )
    if max_shingle_freq is not None:
        buckets = buckets.where(F.size("__docs") <= max_shingle_freq)
    buckets = buckets.localCheckpoint(eager=True)

    # sizes over the (possibly pruned) shingle universe, matching the
    # pair counts' denominator
    sizes = (
        buckets.select(F.explode("__docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .localCheckpoint(eager=True)
    )
    pair_structs = F.expr(
        "transform(__docs, (x, i) ->"
        " transform(slice(__docs, i + 2, size(__docs)), y -> struct(x AS doc_a, y AS doc_b)))"
    )
    shared = (
        buckets.select(F.explode(F.flatten(pair_structs)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    # merge pins: the checkpointed sizes table is DOC-sized, and a bare
    # checkpoint scan has no shuffle stage AQE could measure — an
    # unpinned plan broadcasts it off the inherited explode
    # underestimate. Making the side measurable (repartition under the
    # build) does NOT fix this: AQE demotion is cost-gated and keeps a
    # static broadcast whenever the SMJ re-plan adds an exchange, so
    # the only 100-TB-safe shape is the explicit pin (SCALE.md)
    return shared.join(sa.hint("merge"), "doc_a").join(sb.hint("merge"), "doc_b")


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Directed near-duplicate CONTAINMENT: ``shared/|A|`` and
    ``shared/|B|`` per candidate pair, kept when either direction
    reaches ``threshold``.

    Jaccard misses subset relationships: a short article fully quoted
    inside a long page scores ``|A|/|B|`` (tiny) on Jaccard but 1.0 on
    containment-of-A-in-B — the signal that catches quote extraction,
    boilerplate-wrapped mirrors, and partial scrapes. Same bucketed
    pair generation and skew guard as ``ngram_jaccard_pairs`` (one
    shingle shuffle + one pair shuffle, no self-join); the two ratios
    are free projections of the shared overlap counts."""
    counts = _pair_overlap_counts(
        df, text_col, id_col, k=k, max_shingle_freq=max_shingle_freq
    )
    c_ab = F.round(F.col("shared") / F.col("na"), 4)
    c_ba = F.round(F.col("shared") / F.col("nb"), 4)
    return (
        counts.withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .where((F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold))
        .select("doc_a", "doc_b", "shared", "cont_a_in_b", "cont_b_in_a")
    )


def jaccard_prefix_filtered_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (SSJoin /
    PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08).

    Returns the same (doc_a, doc_b, jaccard) rows as
    ``ngram_jaccard_pairs`` at the same threshold — no approximation —
    but generates candidates only from each document's PREFIX: under a
    global rarest-first shingle order, a pair with ``J(A,B) >= t`` must
    share a shingle within the first ``n - ceil(t*n) + 1`` shingles of
    both docs. Everything outside the prefixes never reaches the
    pair-generation shuffle, and because the order is rarest-first the
    hottest (boilerplate) shingles are precisely the ones excluded —
    the candidate volume drops by orders of magnitude at corpus scale
    WITHOUT the lossy stop-shingle cap. Candidates are then verified
    with true overlap counts (a join that touches only candidate
    pairs).

    The ``(doc, shingle)`` table fans out to three consumers (frequency
    order, prefix, the per-doc set aggregate that backs verification),
    so it is checkpointed once — same rationale as
    ``ngram_jaccard_pairs``.
    """
    sh = (
        _doc_shingles(df, text_col, id_col, k)
        .select(F.col(id_col).alias("doc"), "shingle")
        .localCheckpoint(eager=True)
    )

    from pyspark.sql import Window

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__freq"))
    w = Window.partitionBy("doc").orderBy(F.asc("__freq"), F.asc("shingle"))
    # merge pin: freq is SHINGLE-VOCABULARY-sized (grows with the
    # corpus) off the checkpoint's inherited estimate — an
    # estimate-driven broadcast of the vocabulary would OOM at 100 TB.
    # A window-count over shingle instead of this join would avoid the
    # shuffle but melts on hot boilerplate shingles (no partial
    # aggregation), so agg + pinned join it is.
    ordered = (
        sh.join(freq.hint("merge"), "shingle")
        .withColumn("__rank", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    )
    # Two exactness traps at the threshold boundary, both handled with
    # EXACT decimal arithmetic:
    # - the output filter is round(J, 4) >= t, which admits true
    #   Jaccard down to t - 0.00005 (half-up) — the prefix bound must
    #   use that EFFECTIVE threshold or boundary pairs lose their
    #   candidates;
    # - ceil(t * n) in doubles overshoots for exact products
    #   (math.ceil(0.28 * 25) == 8, exact ceil is 7), shortening the
    #   prefix by one — DECIMAL multiply/ceil is exact.
    t_eff = F.lit(threshold).cast("decimal(12,6)") - F.lit(0.00005).cast("decimal(12,6)")
    prefix_len = F.col("__n") - F.ceil(t_eff * F.col("__n")) + 1
    prefix = ordered.where(F.col("__rank") <= prefix_len).select("shingle", "doc")

    candidates = _bucket_pairs(prefix, "shingle")

    # verification: exact overlap via per-doc shingle SETS and a JVM
    # array_intersect — two joins total (vs an exploded shape's four:
    # explode-join on doc_a, explode-join on (doc_b, shingle), then a
    # pair groupBy plus two sizes joins). Sets are doc-bounded arrays,
    # so the join payload is the same bytes as the exploded rows but
    # skips the pair x shingle intermediate and the re-aggregate.
    # merge pins: docsets is a DOC-sized checkpoint descendant whose
    # estimate is the inherited explode underestimate — an unpinned
    # plan statically broadcasts it, and AQE demotion is cost-gated
    # (SCALE.md), so the pin is the only 100-TB-safe shape.
    # deliberately NOT checkpointed: docsets is a second corpus-sized
    # table, and storing it alongside the sh checkpoint doubles the
    # materialized footprint (measured: Java heap exhaustion at 64x
    # amplification). Both pair-side consumers share the agg's shuffle
    # via ReuseExchange, so skipping the store costs one extra
    # post-shuffle agg pass, not a recompute of the shingle pipeline.
    docsets = sh.groupBy("doc").agg(F.sort_array(F.collect_set("shingle")).alias("__set"))
    A = docsets.select(F.col("doc").alias("doc_a"), F.col("__set").alias("__sa"))
    B = docsets.select(F.col("doc").alias("doc_b"), F.col("__set").alias("__sb"))
    shared = F.size(F.array_intersect("__sa", "__sb"))
    na = F.size("__sa")
    nb = F.size("__sb")
    jac = shared / (na + nb - shared)
    return (
        candidates.join(A.hint("merge"), "doc_a")
        .join(B.hint("merge"), "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
    double_hashing: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: array of ``num_hashes`` minima over
    the doc's shingle set, each hash = the first 8 md5 bytes as an
    unsigned 64-bit value carried in ``DECIMAL(20,0)``. Docs with no
    shingle are dropped (too short to compare).

    ``double_hashing=True`` derives the ``num_hashes`` functions from
    TWO md5s per shingle via Kirsch-Mitzenmacher composition —
    ``h_j = (h1 + j*h2) mod 2^64`` — instead of ``num_hashes``
    independent md5s. Same minhash guarantees (K-M shows pairwise
    independence suffices for Bloom/minhash-style sketches), ~k/2
    fewer hash evaluations in the widest stage of the dedup: at the
    production end (k = 128+) the hashing cost of the signature stage
    drops ~64x. The composition is plain DECIMAL arithmetic, so the
    oracle replays it exactly.

    Why DECIMAL and not the md5 hex string: ``min(string)`` is not
    hash-aggregatable in Spark (variable-length buffer), so the
    signature aggregate — the widest stage of the whole dedup — falls
    back to SortAggregate; fixed-size decimal minima keep it a
    HashAggregate with map-side partial min. Still engine-exact: the
    oracle computes the identical integers from the identical md5s, so
    both sides take minima over the SAME value sets (truncation
    collisions, ~2^-64, would affect both sides identically anyway).

    Shape: explode the shingle set once, compute the ``num_hashes``
    md5s per (doc, shingle) row, then take per-doc minima in a single
    hash aggregate (partial min map-side, so shuffle volume is one
    signature row per doc per mapper). The tempting one-expression
    alternative — ``array_min(transform(shingles, md5)) x num_hashes``
    — embeds the whole tokenize->shingle pipeline once per hash
    function in the expression tree and measured ~100x slower at
    sf0.1.
    """
    sh = F.array_distinct(shingles(tokenize(F.col(text_col)), k=k_shingle))
    exploded = ensure_min_partitions(df).select(F.col(id_col), F.explode(sh).alias("__shingle"))

    def md5_u64(salt: str):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("__shingle"))), 1, 16), 16, 10
        ).cast("decimal(20,0)")

    if double_hashing:
        # 32-bit K-M: h1/h2 are the first 8 md5 hex digits of two
        # salted hashes, composed in plain LONG arithmetic (h1 + 15*h2
        # < 2^36 — no overflow) with a 2^32 modulus. The first cut of
        # this used 64-bit values in DECIMAL(20,0); the BigDecimal
        # multiply/mod chain made the variant ~25% SLOWER than 16
        # straight md5s at sf0.1 — primitive long ops codegen, decimals
        # do not. 32-bit minhash values are the standard trade
        # (per-pair collision 2^-32, immaterial for near-dup detection)
        # and longs keep the signature minima hash-aggregable exactly
        # like the decimal default.
        def md5_u32(salt: str):
            return F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), F.col("__shingle"))), 1, 8), 16, 10
            ).cast("long")

        two32 = F.lit(2**32)
        h1, h2 = md5_u32("a:"), md5_u32("b:")
        hash_cols = [
            ((h1 + F.lit(j) * h2) % two32).alias(f"__h{j}") for j in range(num_hashes)
        ]
    else:
        hash_cols = [md5_u64(f"{j}:").alias(f"__h{j}") for j in range(num_hashes)]
    hashed = exploded.select(id_col, *hash_cols)
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"__h{j}").alias(f"__h{j}") for j in range(num_hashes)]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{j}") for j in range(num_hashes)]).alias("signature"),
    )


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    min_agreement: float = 0.5,
) -> DataFrame:
    """LSH candidates VERIFIED by signature agreement — the stage real
    dedup pipelines run between banding and clustering.

    Banded LSH alone admits any pair that agrees on ONE band (for 4x4
    banding that's noticeable even at Jaccard ~0.4); feeding raw
    candidates to connected components chains false positives into
    giant merged clusters. The fix costs nothing extra at scale: the
    signatures already exist, so each candidate pair is scored by its
    component-wise agreement fraction — an unbiased estimate of the
    true Jaccard (E[h_min agree] = J) — and only pairs at or above
    ``min_agreement`` survive. Returns (doc_a, doc_b, n_agree,
    est_jaccard).

    The signature table feeds LSH banding AND both sides of the
    verification join, so it is checkpointed once (the multi-consumer
    rule; see ``ngram_jaccard_pairs``). The verification join touches
    only candidate pairs — at corpus scale its cost tracks the LSH
    candidate count, not n².
    """
    sigs = minhash_signatures(
        df, text_col, id_col, k_shingle=k_shingle, num_hashes=num_hashes
    ).localCheckpoint(eager=True)
    # the signatures ride through pair generation (struct(doc,
    # signature) per bucket), so the agreement score computes in the
    # explode's own stage and the distinct dedups the VERIFIED set — no
    # distinct-then-two-sort-merge-joins back against the signature
    # checkpoint. n_agree/est_jaccard are functional on the pair, so
    # distinct over the four output columns equals distinct pairs
    # joined and scored.
    pairs = lsh_candidate_pairs(
        sigs,
        id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
        carry_sig=True,
    )
    n_agree = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
    return (
        pairs.withColumn("n_agree", n_agree.cast("int"))
        .withColumn(
            "est_jaccard", F.round(F.col("n_agree") / F.lit(num_hashes), 4)
        )
        .where(F.col("est_jaccard") >= min_agreement)
        .select("doc_a", "doc_b", "n_agree", "est_jaccard")
        .distinct()
    )


def _bucket_pairs(
    buckets: DataFrame,
    *key_cols: str,
    max_bucket_size: int | None = None,
    batch: Column | None = None,
    distinct_pairs: bool = True,
    dedup_docs: bool = False,
    payload_col: str | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs, doc_a < doc_b, from a (doc, key...)
    bucket table: group by key -> sorted doc list -> emit the upper
    triangle with a higher-order transform. One shuffle on the bucket
    key plus the pair-distinct — vs a self-join, which runs the whole
    upstream pipeline (signatures!) twice and shuffles both copies.
    ``max_bucket_size`` drops degenerate hot buckets (a B-doc bucket
    emits B(B-1)/2 pairs) — the corpus-scale skew guard.

    ``dedup_docs=True`` collects a SET per bucket instead of a list —
    for callers whose (doc, key) rows may repeat: it folds the
    caller's would-be upstream ``.distinct()`` into the one groupBy
    exchange this operator already pays (``sort_array(collect_set)``
    equals ``distinct`` -> ``sort_array(collect_list)`` row for row),
    removing a full shuffle of the bucket table.

    ``batch``: optional BOOLEAN column over ``buckets`` marking the docs
    of the arriving batch — the incremental-dedup hook. Membership
    travels with the doc into the grouped list, and only pairs where at
    least one side is in the batch are emitted, INSIDE generation:
    old-vs-old pairs are never emitted, shuffled or distinct'ed, so
    per-batch dedup cost tracks the batch, not the corpus. It must be
    functional on doc.

    ``distinct_pairs=False`` keeps one row per (bucket, pair) instead
    of deduplicating across buckets — for counting consumers
    (co-occurrence strength, triangle support) where the multiplicity
    IS the signal.

    ``payload_col``: name of a per-doc column on ``buckets`` to CARRY
    THROUGH pair generation — output gains ``payload_a`` / ``payload_b``,
    so a verify stage that needs each side's signature filters pairs in
    the explode's own stage instead of paying two sort-merge joins of
    the pair table back against the signature frame (see
    ``minhash_verified_pairs``). The payload must be functional on doc.

    One code path: each bucket collects the bare ``doc`` when there is
    no batch flag or payload, else ``struct(doc AS d[, flag AS f][,
    payload AS p])``. Sorting the structs orders by ``d`` first, and a
    doc appears once per bucket, so every shape emits the bare path's
    doc order."""
    from ..operators.partitioning import pinned_group_repartition

    # pin the grouping exchange's width: AQE sizes it by the grouped
    # BYTES, which underestimates the quadratic pair explode running on
    # top by B(B-1)/2 per bucket — unpinned, the explode serialized on
    # 1-2 of 32 cores for every small-bucket-table consumer (the
    # repartition is REUSED by the groupBy, so no extra shuffle)
    buckets = pinned_group_repartition(buckets, *key_cols)
    fields = [F.col("doc").alias("d")]
    if batch is not None:
        fields.append(batch.alias("f"))
    if payload_col is not None:
        fields.append(F.col(payload_col).alias("p"))
    is_struct = len(fields) > 1
    item = F.struct(*fields) if is_struct else F.col("doc")
    doc = ".d" if is_struct else ""
    collected = F.collect_set(item) if dedup_docs else F.collect_list(item)
    grouped = buckets.groupBy(*key_cols).agg(F.sort_array(collected).alias("__ds"))
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("__ds") <= max_bucket_size)
    inner = "slice(__ds, i + 2, size(__ds))"
    if batch is not None:
        inner = f"filter({inner}, y -> (x.f OR y.f))"
    emitted = f"x{doc} AS doc_a, y{doc} AS doc_b"
    if payload_col is not None:
        emitted += ", x.p AS payload_a, y.p AS payload_b"
    pair_structs = F.expr(
        f"transform(__ds, (x, i) -> transform({inner}, y -> struct({emitted})))"
    )
    pairs = grouped.select(F.explode(F.flatten(pair_structs)).alias("p")).select("p.*")
    return pairs.distinct() if distinct_pairs else pairs


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    batch: Column | None = None,
    carry_sig: bool = False,
) -> DataFrame:
    """Banded LSH over MinHash signatures -> distinct candidate pairs
    (doc_a < doc_b). The bucket key is (band index, band hash): docs only
    meet if an entire band agrees, so the pair count stays near-linear
    for realistic similarity distributions.

    Pairs are generated from grouped buckets (see ``_bucket_pairs``), not
    a self-join — the signature pipeline (tokenize -> shingle -> md5 x k
    -> min-agg) is the expensive stage, and a self-join would compute it
    for both sides; grouping computes it once. Measured ~2x faster at
    sf0.1 with identical output. ``batch`` is a boolean over
    ``signatures``, evaluated once per doc: only pairs touching a doc of
    the batch are emitted, inside generation (see ``_bucket_pairs``).

    ``carry_sig=True`` carries each side's full MinHash signature array
    through pair generation (columns ``sig_a``/``sig_b``, one row per
    (band-bucket, pair) — NOT distinct'ed), so a verification consumer
    scores agreement in the explode's stage instead of joining the pair
    table back against the signature frame twice."""
    band_hashes = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]))
            for b in range(bands)
        ]
    )
    # bands * rows_per_band beyond the signature width would index NULL
    # elements; concat_ws skips them and the constant band hash puts
    # EVERY doc in one bucket — a silent O(n²) explosion. Fail loudly
    # on the first mismatched row instead.
    need = bands * rows_per_band
    guarded = F.when(
        F.size("signature") < need,
        F.raise_error(
            F.concat(
                F.lit(
                    f"lsh_candidate_pairs needs bands*rows_per_band={need} "
                    "signature values, got "
                ),
                F.size("signature").cast("string"),
            )
        ).cast("array<string>"),
    ).otherwise(band_hashes)
    return _signature_pairs(
        signatures,
        id_col,
        "signature",
        F.posexplode(guarded).alias("band", "bucket"),
        ["band", "bucket"],
        max_bucket_size=max_bucket_size,
        batch=batch,
        carry_sig=carry_sig,
    )


def _signature_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    keys_gen: Column,
    key_cols: list[str],
    *,
    max_bucket_size: int | None,
    batch: Column | None,
    carry_sig: bool,
) -> DataFrame:
    """The shared tail of the two LSH families: one (doc, [sig],
    [batch], key...) bucket row per generated key, then
    ``_bucket_pairs`` — distinct (doc_a, doc_b), or with ``carry_sig``
    the undistinct'ed (doc_a, doc_b, sig_a, sig_b) rows."""
    cols = [F.col(id_col).alias("doc")]
    if carry_sig:
        cols.append(F.col(sig_col))
    if batch is not None:
        cols.append(batch.alias("__batch"))
    pairs = _bucket_pairs(
        sigs.select(*cols, keys_gen),
        *key_cols,
        max_bucket_size=max_bucket_size,
        batch=None if batch is None else F.col("__batch"),
        payload_col=sig_col if carry_sig else None,
        distinct_pairs=not carry_sig,
    )
    if not carry_sig:
        return pairs
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("payload_a").alias("sig_a"),
        F.col("payload_b").alias("sig_b"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 4,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Maximal duplicated-span extraction — the unaligned, maximal-run
    upgrade of ``duplicate_chunk_removal`` (the suffix-array substring
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally): a token
    position is *flagged* when the word-``k``-gram starting there occurs
    in at least ``min_doc_freq`` distinct documents; maximal runs of
    consecutive flagged positions are merged into spans via
    gaps-and-islands (``pos - row_number`` is constant within a run).
    A span covering positions [s, e] means tokens ``s .. e+k-1`` of the
    document are (piecewise) shared with other documents — the spans a
    cleaning pass would cut, at every offset, not just chunk-aligned
    ones.

    Scale shape: one explode (every position, corpus-sized), one
    gram-keyed count-distinct aggregate with map-side partial combine,
    one equi-join of the position table against the duplicated-gram set
    keyed on the gram, and one per-document window (bounded by document
    length, never corpus-wide). The duplicated-gram set is the
    aggregate's OUTPUT — no broadcast hint on purpose: in
    boilerplate-heavy web corpora that set is data-sized, and AQE sees
    its true runtime size and picks broadcast vs shuffle-hash correctly
    (never *pin* broadcast on a side that scales with the corpus: a
    pinned broadcast of a data-sized side is the classic mis-broadcast).

    Returns one row per maximal span:
    ``(id, span_start, span_end, span_tokens, n_grams)`` with 1-based
    inclusive token indices.
    """
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, F.lit(k)), " "),
    )
    pos = (
        ensure_min_partitions(df.where(F.col(text_col).isNotNull()))
        .where(n >= k)
        .select(F.col(id_col), F.posexplode(grams).alias("__p0", "__gram"))
        .select(id_col, (F.col("__p0") + 1).alias("__pos"), "__gram")
    )
    dup = (
        pos.groupBy("__gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_doc_freq)
        .select("__gram")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    runs = (
        pos.join(dup, "__gram")
        .select(id_col, "__pos")
        .withColumn("__isl", F.col("__pos") - F.row_number().over(w))
    )
    return runs.groupBy(id_col, "__isl").agg(
        F.min("__pos").cast("long").alias("span_start"),
        (F.max("__pos") + (k - 1)).cast("long").alias("span_end"),
        (F.max("__pos") + (k - 1) - F.min("__pos") + 1).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    ).drop("__isl")


def duplicate_chunk_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_tokens: int = 5,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Exact-substring boilerplate removal (the RefinedWeb/Falcon-style
    corpus-cleaning pass, at aligned-chunk granularity): split each doc
    into non-overlapping ``chunk_tokens``-token chunks, drop every chunk
    that appears in more than ``max_doc_freq`` documents, reassemble the
    survivors in order.

    Scale shape: the global chunk-frequency aggregate's OUTPUT (chunks
    above the threshold) is the boilerplate set — small by definition —
    so it BROADCASTS back as a left join marker; the expensive
    alternative (shuffling all chunks a second time to join frequencies)
    never happens. One explode, one count-distinct aggregate, one
    broadcast, one per-doc regroup.

    Returns (id, clean_text, n_chunks_kept, n_chunks_removed).
    """
    toks = tokenize(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunk_structs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " ").alias("chunk"),
        ),
    )
    guarded = F.when(n_chunks >= 1, chunk_structs).otherwise(
        F.array().cast("array<struct<chunk_idx:int,chunk:string>>")
    )
    ex = (
        ensure_min_partitions(df)
        .select(F.col(id_col), F.explode(guarded).alias("c"))
        .select(id_col, F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.chunk").alias("chunk"))
    )
    hot = (
        ex.groupBy("chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("__f"))
        .where(F.col("__f") > max_doc_freq)
        .select("chunk", F.lit(True).alias("__hot"))
    )
    # no broadcast hint: the hot-chunk set is
    # data-DEPENDENT (heavy-tailed, usually tiny, never bounded by
    # construction), and its aggregate sits on honestly-estimated
    # input — so the planner broadcasts locally and flips to SMJ when
    # the hot set genuinely grows, instead of being forced to
    # broadcast at any size
    marked = ex.join(hot, "chunk", "left")
    kept_struct = F.when(
        F.col("__hot").isNull(), F.struct(F.col("chunk_idx"), F.col("chunk"))
    )  # null for hot chunks -> collect_list skips them
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]), " "
        ).alias("clean_text"),
        F.sum(F.when(F.col("__hot").isNull(), 1).otherwise(0)).alias("n_chunks_kept"),
        F.sum(F.when(F.col("__hot").isNull(), 0).otherwise(1)).alias("n_chunks_removed"),
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc as a zero-padded hex string.

    Vectorized Pandas UDF (Arrow-batched): per token md5 -> first
    ``bits`` bits; signature bit b is the sign of sum(+/-1) over
    tokens. Deterministic (md5), no Python hash randomization.
    ``bits`` must be byte-aligned (the signature is a hex string).
    """
    if bits % 8 != 0 or not 0 < bits <= 128:
        raise ValueError(f"bits must be a multiple of 8 in (0, 128], got {bits}")
    nbytes = bits // 8

    @F.pandas_udf("string")
    def _simhash(texts: pd.Series) -> pd.Series:
        # Vectorized over the Arrow batch: the only Python loop left is
        # md5 over *unique* tokens (the hash itself); bit expansion, the
        # signed per-bit sums, and the final bit-pack are all numpy.
        import numpy as np

        n = len(texts)
        out = np.full(n, None, dtype=object)
        doc_idx: list[int] = []
        toks: list[str] = []
        for i, t in enumerate(texts):
            if t is None:
                continue
            tt = t.split()
            doc_idx.extend([i] * len(tt))
            toks.extend(tt)
            out[i] = "0" * (nbytes * 2)  # empty doc -> all-zero signature
        if toks:
            uniq, inv = np.unique(np.asarray(toks, dtype=object), return_inverse=True)
            digests = np.frombuffer(
                b"".join(hashlib.md5(u.encode("utf-8")).digest()[:nbytes] for u in uniq),
                dtype=np.uint8,
            ).reshape(len(uniq), nbytes)
            # MSB-first bit expansion -> {-1,+1} contributions per bit
            plus_minus = np.unpackbits(digests, axis=1).astype(np.int32) * 2 - 1
            acc = np.zeros((n, bits), dtype=np.int64)
            np.add.at(acc, np.asarray(doc_idx, dtype=np.int64), plus_minus[inv])
            packed = np.packbits((acc > 0).astype(np.uint8), axis=1)
            for i in range(n):
                if out[i] is not None:
                    out[i] = packed[i].tobytes().hex()
        return pd.Series(out)

    # NULL text -> no signature row (not comparable), matching MinHash's
    # "no shingles -> dropped" contract; NULL signatures would otherwise
    # bucket together through NULL block keys downstream.
    return (
        ensure_min_partitions(df)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))
    )


def simhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    *,
    bits: int = 64,
    band_hex_width: int = 4,
    max_bucket_size: int | None = None,
    batch: Column | None = None,
    carry_sig: bool = False,
) -> DataFrame:
    """Near-dup candidates: docs sharing any aligned block of the
    SimHash (``band_hex_width`` hex chars) — the standard hamming-LSH
    trick. ``bits`` must match the signature width the ``simhash``
    column was built with: an out-of-range block would be an empty
    ``substring`` shared by EVERY doc — one universal bucket, silent
    O(n²) pair explosion — so the mismatch is rejected up front.
    ``max_bucket_size`` caps degenerate blocks (e.g. the all-zero block
    of empty docs), the corpus-scale skew guard. ``batch`` restricts
    pairs to those touching the batch, inside generation — the
    incremental-dedup hook shared with ``lsh_candidate_pairs``.

    ``carry_sig=True`` carries each side's full signature through pair
    generation (columns ``sig_a``/``sig_b``, one row per (block, pair)
    — NOT distinct'ed): the exact-verify consumer then computes its
    distance in the explode's own stage and distincts the (smaller)
    verified set, instead of distinct-then-two-sort-merge-joins back
    against the signature frame."""
    hex_chars = bits // 4
    if bits % 4 or hex_chars % band_hex_width:
        raise ValueError(
            f"bits={bits} must be a multiple of 4 and of band_hex_width*4="
            f"{band_hex_width * 4}"
        )
    blocks = F.array(
        *[
            F.concat(F.lit(str(i)), F.lit(":"), F.substring("simhash", i * band_hex_width + 1, band_hex_width))
            for i in range(hex_chars // band_hex_width)
        ]
    )
    guard = F.when(
        F.length("simhash") != hex_chars,
        F.raise_error(
            F.concat(
                F.lit(f"simhash_candidate_pairs(bits={bits}) expects {hex_chars}-hex "
                      "signatures, got length "),
                F.length("simhash").cast("string"),
            )
        ).cast("array<string>"),
    ).otherwise(blocks)
    return _signature_pairs(
        sigs,
        id_col,
        "simhash",
        F.explode(guard).alias("block"),
        ["block"],
        max_bucket_size=max_bucket_size,
        batch=batch,
        carry_sig=carry_sig,
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every word-``k``-gram, slide a
    window of ``w`` consecutive gram hashes over each document, and
    select the minimum hash of each window (rightmost position on
    ties — "robust winnowing", so runs of equal minima contribute one
    fingerprint, not ``w``). The selected (position, hash) pairs are
    the document's fingerprint set: any shared substring of at least
    ``w + k - 1`` tokens between two documents is GUARANTEED to share
    at least one fingerprint, at an expected density of ``2/(w+1)`` —
    the partial-overlap upgrade of the whole-document
    ``functions.fingerprint`` (md5 of the full text), which only
    detects exact duplicates.

    Spark shape: one explode (per gram position), one per-document
    window (``rowsBetween(0, w-1)`` — positions are dense consecutive
    integers, so the row frame IS the position frame), one distinct.
    No join, no corpus-wide window. The argmin-with-rightmost-tiebreak
    is packed into integer arithmetic so the frame aggregate stays a
    plain ``min`` in whole-stage codegen: ``hash * 2^24 + (2^24-1 -
    pos)`` — lower hash wins first, then HIGHER position (its
    complement is lower). Doc positions are bounded at 2^24 grams and
    the 32-bit hash keeps the packed key under 2^56, exact in a
    BIGINT on both engines (the DuckDB oracle replays the same
    arithmetic).

    Documents with fewer than ``k + w - 1`` tokens (< ``w`` grams)
    emit no fingerprints — standard winnowing assumes at least one
    full window; compose with exact dedup for tiny documents.

    Returns one row per distinct fingerprint:
    ``(id, pos, fp)`` — 1-based gram position and 32-bit gram hash.
    """
    from ..functions.columns import md5_prefix_int
    from ..operators.partitioning import ensure_min_partitions
    from pyspark.sql.window import Window

    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, F.lit(k)), " "),
    )
    shift = 1 << 24
    # the pos-complement pack assumes < 2^24 grams per document; a
    # longer doc would drive the complement negative and silently
    # corrupt the min-selection — enforce at runtime, not
    # just in the docstring. raise_error's branch types as bigint so
    # the when-chain stays a single codegen expression.
    gram_count = F.when(
        n - (k - 1) >= shift,
        F.raise_error(
            F.concat(
                F.lit("winnowing_fingerprints: document exceeds 2^24 grams ("),
                (n - (k - 1)).cast("string"),
                F.lit("); the packed argmin would overflow — chunk the document first"),
            )
        ).cast("int"),
    ).otherwise(n - (k - 1))
    pos = (
        ensure_min_partitions(df.where(F.col(text_col).isNotNull()))
        .where(n >= k + w - 1)  # at least one full window of grams
        .select(
            F.col(id_col),
            gram_count.alias("__g"),  # gram count, bounds window starts
            F.posexplode(grams).alias("__p0", "__gram"),
        )
        .select(
            id_col,
            "__g",
            (F.col("__p0") + 1).alias("__pos"),
            (
                md5_prefix_int("__gram").cast("bigint") * shift
                + (F.lit(shift - 1) - (F.col("__p0") + 1))
            ).alias("__packed"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    sel = (
        pos.withColumn("__m", F.min("__packed").over(win))
        .where(F.col("__pos") <= F.col("__g") - (w - 1))  # full windows only
        .select(id_col, "__m")
        .distinct()
    )
    # decode in pure integer ops: `/` would round through a double
    # (the packed key has 56 significant bits, doubles carry 53)
    return sel.select(
        id_col,
        (F.lit(shift - 1) - (F.col("__m") % shift)).cast("long").alias("pos"),
        F.shiftright(F.col("__m"), 24).cast("long").alias("fp"),
    )
