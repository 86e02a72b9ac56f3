"""The benchmark's workloads: the nightly consume-batch job through the
CLI's ``main(argv)``, and corpus near-dedup through the registered
``corpus_near_dedup_pipeline``. Each workload makes its inputs from the
seed, runs one job per call, checks one output against the DuckDB
oracle, and turns a traced repetition into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import statistics
import sys
from pathlib import Path

import gen
from tracer import EntryPoint, Tracer

PKG = "st_bigdata_consume_batch_ma_with_cr_ecd_spark"
NIGHTLY_EVENTS = 25_000
DEDUP_DOCS = 3_000


def _table_digest(root: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_correctness", root / "tools" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_digest


def same_table(rows_a, cols_a, rows_b, cols_b, digest) -> tuple[bool, str]:
    """Row count, column set and the canonical order-insensitive value
    hash of ``tools/check_correctness.py`` must all agree."""
    if sorted(cols_a) != sorted(cols_b):
        return False, f"columns differ: {sorted(set(cols_a) ^ set(cols_b))}"
    if len(rows_a) != len(rows_b):
        return False, f"row count {len(rows_a)} != oracle {len(rows_b)}"
    ha, hb = digest(rows_a, list(cols_a)), digest(rows_b, list(cols_b))
    if ha != hb:
        return False, f"value hash {ha} != oracle {hb}"
    return True, f"{len(rows_a)} rows match"


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in path.rglob("*.parquet")
        if not f.name.startswith((".", "_"))
    )


def _data_files(path: Path) -> list[Path]:
    return [f for f in path.rglob("*") if f.is_file() and not f.name.startswith((".", "_"))]


def _stage0_name(args, kwargs) -> str:
    path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
    return "pipelines.stage0" if "stage0" in path else "io.write_parquet"


class Nightly:
    """The nightly job: seeded events derived into the CLI's 8 input
    tables, then ``tools/run_consume_batch.main(argv)`` in-process."""

    name = "nightly"

    def __init__(self, root: Path, work: Path, seed: int, events: int = NIGHTLY_EVENTS):
        self.root, self.seed, self.events = root, seed, events
        self.gen_dir = work / "gen"
        self.in_dir = work / "inputs"
        self.input_rows = 0
        self.rows_out = 0
        spec = importlib.util.spec_from_file_location(
            "run_consume_batch", root / "tools" / "run_consume_batch.py"
        )
        self.cli = importlib.util.module_from_spec(spec)
        sys.modules["run_consume_batch"] = self.cli
        spec.loader.exec_module(self.cli)

    def make_inputs(self, spark) -> None:
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.consume_e2e import (
            derive_consume_inputs,
        )

        gen.write_events(str(self.gen_dir / "events.parquet"), self.events, self.seed)
        for table, df in derive_consume_inputs(spark, str(self.gen_dir)).items():
            df.write.mode("overwrite").parquet(str(self.in_dir / table))
        self.input_rows = sum(_parquet_rows(p) for p in self.in_dir.iterdir())

    def argv(self, out: Path) -> list[str]:
        return [
            "--input-dir", str(self.in_dir), "--output-dir", str(out),
            "--partition-date", "2024-01-30", "--days-ago", "10",
        ]

    def run(self, spark, out: Path) -> None:
        with contextlib.redirect_stdout(io.StringIO()):
            rc = self.cli.main(self.argv(out))
        if rc not in (0, None):
            raise RuntimeError(f"run_consume_batch exited {rc}")

    def check(self, spark, out: Path) -> tuple[bool, str, int]:
        import duckdb

        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import (
            DEFAULT_SLICES,
        )
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.consume_e2e import (
            OUTPUT_COLS,
            _e2e_oracle,
        )

        for spec in DEFAULT_SLICES:
            tag = f"{spec.geoid}_{spec.distribution_type}"
            for sink in ("csv", "json"):
                if not (out / sink / tag / "_SUCCESS").exists():
                    return False, f"slice {tag} wrote no committed {sink} output", 0
        df = spark.read.parquet(str(out / "parquet")).select(*OUTPUT_COLS)
        rows = [tuple(r) for r in df.collect()]
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.gen_dir / 'events.parquet'}'")
            res = con.execute(_e2e_oracle())
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        ok, why = same_table(rows, OUTPUT_COLS, o_rows, o_cols, _table_digest(self.root))
        self.rows_out = len(rows)
        return ok, why, len(rows)

    # -- traced run ---------------------------------------------------------
    def entry_points(self) -> list[EntryPoint]:
        cb = f"{PKG}.pipelines.consume_batch"
        eps = [
            EntryPoint("pyspark.sql.readwriter", "DataFrameWriter.parquet", _stage0_name),
            EntryPoint(f"{PKG}.session", "get_spark", "session.get_spark"),
            EntryPoint(cb, "filter_changelog", "pipelines.filter_changelog"),
            EntryPoint(cb, "merge_delete", "pipelines.merge_delete"),
            EntryPoint(cb, "run_slices_concurrent", "pipelines.run_slices_concurrent"),
            EntryPoint(cb, "prepare_enrich_dims", "pipelines.dims", materialize=True),
            EntryPoint(cb, "basedata_first", "pipelines.basedata_first"),
            EntryPoint(cb, "basedata_enrich", "pipelines.basedata_enrich"),
            EntryPoint(cb, "basedata_final", "pipelines.basedata_final"),
            EntryPoint(cb, "modify_data", "pipelines.modify_data"),
            EntryPoint(cb, "shape_json_output", "pipelines.shape_json_output"),
            EntryPoint(f"{PKG}.operators.partitioning", "stage_bucketed_by_key",
                       "operators.partitioning.stage_bucketed"),
            EntryPoint(f"{PKG}.operators.setops", "union_slices", "operators.union_slices"),
            EntryPoint(f"{PKG}.sinks.writers", "write_csv_gzip", "sinks.csv"),
            EntryPoint(f"{PKG}.sinks.writers", "write_json_gzip", "sinks.json"),
            EntryPoint(f"{PKG}.sinks.writers", "overwrite_partitions", "sinks.parquet"),
        ]
        # the names the CLI module bound at import time
        cli_names = {
            "get_spark": "session.get_spark",
            "filter_changelog": "pipelines.filter_changelog",
            "merge_delete": "pipelines.merge_delete",
            "union_slices": "operators.union_slices",
            "overwrite_partitions": "sinks.parquet",
        }
        eps += [EntryPoint("run_consume_batch", a, n) for a, n in cli_names.items()]
        return eps

    def traced(self, spark, out: Path, tracer: Tracer) -> None:
        with tracer.span("cli.main"):
            self.run(spark, out)

    def layer_metrics(self, tracer: Tracer, out: Path) -> tuple[dict, dict]:
        m, missing = {}, {}
        main = tracer.by_name("cli.main")[0]

        def timed(metric: str, span: str) -> None:
            if not tracer.by_name(span):
                missing[metric] = f"span {span} not recorded: not called on the CLI path"
            m[metric] = tracer.total(span)

        timed("pipelines.stage0_s", "pipelines.stage0")
        timed("operators.partitioning.stage_bucketed_s", "operators.partitioning.stage_bucketed")
        timed("pipelines.dims_s", "pipelines.dims")
        timed("pipelines.slices_wall_s", "pipelines.run_slices_concurrent")
        for sink in ("csv", "json", "parquet"):
            timed(f"sinks.{sink}_s", f"sinks.{sink}")

        m["pipelines.stage0_rows_in"] = _parquet_rows(self.in_dir / "changelog")
        stage0 = out / "_stage0_staging"
        m["pipelines.stage0_rows_out"] = _parquet_rows(stage0) if stage0.exists() else 0
        if not stage0.exists():
            missing["pipelines.stage0_rows_out"] = "no stage-0 staging table under the output dir"

        # prep = from job start until the first slice chain starts
        firsts = tracer.by_name("pipelines.basedata_first")
        slice_start = min((s.start for s in firsts), default=main.end)
        prep_wall = slice_start - main.start
        prep_parts = [
            s for name in ("pipelines.stage0", "pipelines.dims", "operators.partitioning.stage_bucketed")
            for s in tracer.by_name(name) if s.end <= slice_start
        ]
        m["pipelines.prep_wall_s"] = prep_wall
        m["pipelines.prep_overlap"] = sum(s.duration for s in prep_parts) / prep_wall if prep_wall > 0 else 0.0

        # one slice chain per pool thread: its first to its last span
        chains: dict[int, list] = {}
        slices = tracer.by_name("pipelines.run_slices_concurrent")
        inside = tracer.descendants(slices[0].id) if slices else set()
        for s in tracer.spans:
            if s.id in inside and s.thread != main.thread and s.end is not None:
                chains.setdefault(s.thread, []).append(s)
        lengths = sorted(max(s.end for s in v) - min(s.start for s in v) for v in chains.values())
        if lengths:
            m["pipelines.slice_chain_max_s"] = lengths[-1]
            m["pipelines.slice_skew"] = lengths[-1] / statistics.median(lengths)
        else:
            m["pipelines.slice_chain_max_s"] = m["pipelines.slice_skew"] = 0.0
            missing["pipelines.slice_chain_max_s"] = missing["pipelines.slice_skew"] = (
                "no slice chain ran in a pool thread"
            )
        m["pipelines.slices"] = len(lengths)
        m["pipelines.rows_out"] = self.rows_out
        files = [f for sink in ("csv", "json", "parquet") for f in _data_files(out / sink)]
        m["sinks.files_written"] = len(files)
        m["sinks.bytes_written"] = sum(f.stat().st_size for f in files)
        return m, missing

    # per-span engine counters reported for this workload
    span_layers = {
        "pipelines.stage0": "pipelines.stage0",
        "pipelines.dims": "pipelines.dims",
        "pipelines.run_slices_concurrent": "pipelines.slices",
        "sinks.csv": "sinks.csv",
        "sinks.json": "sinks.json",
        "sinks.parquet": "sinks.parquet",
    }


class DedupCorpus:
    """Corpus near-dedup: seeded documents with ~10% near-duplicates,
    through the registered ``corpus_near_dedup_pipeline`` into a noop
    sink."""

    name = "dedup_corpus"

    def __init__(self, root: Path, work: Path, seed: int):
        self.root, self.seed = root, seed
        self.gen_dir = work / "gen"
        self.input_rows = DEDUP_DOCS
        # the frame the last successful repetition wrote, keyed by its
        # output dir, for the check
        self._frames = {}
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY

        self.spec = REGISTRY["corpus_near_dedup_pipeline"]

    def make_inputs(self, spark) -> None:
        gen.write_documents(str(self.gen_dir / "documents.parquet"), DEDUP_DOCS, self.seed)

    def _frame(self, spark):
        return self.spec.fn(spark, str(self.gen_dir))

    def run(self, spark, out: Path) -> None:
        df = self._frame(spark)
        df.write.format("noop").mode("overwrite").save()
        self._frames = {out: df}

    def check(self, spark, out: Path) -> tuple[bool, str, int]:
        """Collects the frame whose noop write the repetition into
        ``out`` timed, with the checkpoints it made still in place."""
        import duckdb

        if out not in self._frames:
            return False, f"no frame of the repetition that wrote {out.name}", 0
        df = self._frames.pop(out)
        rows, cols = [tuple(r) for r in df.collect()], df.columns
        # DuckDB inlines a CTE at every reference, so the recursive
        # closure would recompute the MinHash verification on each
        # iteration; materializing that one CTE leaves the SQL's result
        # unchanged
        sql = self.spec.oracle.replace(
            "WITH RECURSIVE verified AS (", "WITH RECURSIVE verified AS MATERIALIZED (", 1
        )
        with duckdb.connect() as con:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{self.gen_dir / 'documents.parquet'}'"
            )
            res = con.execute(sql)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        ok, why = same_table(rows, cols, o_rows, o_cols, _table_digest(self.root))
        return ok, why, len(rows)

    # -- traced run ---------------------------------------------------------
    def entry_points(self) -> list[EntryPoint]:
        d, g = f"{PKG}.llm.dedup", f"{PKG}.operators.graph"
        return [
            EntryPoint(d, "minhash_signatures", "llm.dedup.signatures", materialize=True),
            EntryPoint(d, "lsh_candidate_pairs", "llm.dedup.candidates", materialize=True),
            EntryPoint(d, "minhash_verified_pairs", "llm.dedup.verify", materialize=True),
            EntryPoint(g, "assign_cluster_ids", "operators.graph.assign_cluster_ids"),
            EntryPoint(g, "connected_components", "operators.graph.components"),
            EntryPoint(g, "cluster_sizes", "operators.graph.cluster_sizes", materialize=True),
        ]

    def traced(self, spark, out: Path, tracer: Tracer) -> None:
        with tracer.span("dedup.pipeline"):
            self.run(spark, out)

    def layer_metrics(self, tracer: Tracer, out: Path) -> tuple[dict, dict]:
        m, missing = {}, {}
        for metric, span, self_time in (
            ("llm.dedup.signatures_s", "llm.dedup.signatures", False),
            ("llm.dedup.candidates_s", "llm.dedup.candidates", False),
            ("llm.dedup.verify_s", "llm.dedup.verify", True),
            ("operators.graph.components_s", "operators.graph.components", False),
            ("operators.graph.cluster_sizes_s", "operators.graph.cluster_sizes", False),
        ):
            if not tracer.by_name(span):
                missing[metric] = f"span {span} not recorded: not called by the pipeline"
            m[metric] = tracer.self_time(span) if self_time else tracer.total(span)

        def pairs(span: str) -> int:
            return sum(
                df.select("doc_a", "doc_b").distinct().count()
                for df in tracer.results_of(span)
            )

        m["llm.dedup.candidate_pairs"] = pairs("llm.dedup.candidates")
        m["llm.dedup.verified_pairs"] = pairs("llm.dedup.verify")
        c = m["llm.dedup.candidate_pairs"]
        m["llm.dedup.verify_yield"] = m["llm.dedup.verified_pairs"] / c if c else 0.0
        return m, missing

    span_layers = {
        "llm.dedup.signatures": "llm.dedup.signatures",
        "llm.dedup.candidates": "llm.dedup.candidates",
        "llm.dedup.verify": "llm.dedup.verify",
        "operators.graph.components": "operators.graph.components",
        "operators.graph.cluster_sizes": "operators.graph.cluster_sizes",
    }


WORKLOADS = {"nightly": Nightly, "dedup_corpus": DedupCorpus}
