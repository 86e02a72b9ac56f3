"""Benchmark of the repo's user paths: the nightly consume-batch job and
corpus near-dedup, each checked against its DuckDB oracle.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one closed-loop client: a
SparkSession on ``local[<cores>]`` runs one job at a time, each
repetition starting after the previous one ends. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is a report with the raw
samples, the correctness verdict and, with ``--trace 1``, the spans and
the entry points the trace could not find. perfbench/METRICS.md lists
each metric, its unit and the end-to-end metric it should move.

``bench.py`` at the repository root stays the separate registry sweep;
this benchmark does not replace it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from sparkstats import StatusReader, busy_seconds, counters
from tracer import Tracer
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_REPS = 2
# no new repetition starts past this point, so a run ends within 180 s
REP_DEADLINE_S = 120

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
    "input_rows_per_s": "1/s",
    "output_rows": "count",
}

SPAN_LAYERS = [layer for wl in WORKLOADS.values() for layer in wl.span_layers.values()]
ENGINE = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "jvm_gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "pipelines.stage0_s": "s",
    "pipelines.stage0_rows_in": "count",
    "pipelines.stage0_rows_out": "count",
    "operators.partitioning.stage_bucketed_s": "s",
    "pipelines.dims_s": "s",
    "pipelines.prep_wall_s": "s",
    "pipelines.prep_overlap": "ratio",
    "pipelines.slices_wall_s": "s",
    "pipelines.slice_chain_max_s": "s",
    "pipelines.slice_skew": "ratio",
    "pipelines.slices": "count",
    "pipelines.rows_out": "count",
    "sinks.csv_s": "s",
    "sinks.json_s": "s",
    "sinks.parquet_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "llm.dedup.signatures_s": "s",
    "llm.dedup.candidates_s": "s",
    "llm.dedup.verify_s": "s",
    "llm.dedup.candidate_pairs": "count",
    "llm.dedup.verified_pairs": "count",
    "llm.dedup.verify_yield": "ratio",
    "operators.graph.components_s": "s",
    "operators.graph.components_jobs": "count",
    "operators.graph.cluster_sizes_s": "s",
    **{f"spark.{k}": u for k, u in ENGINE.items()},
    "spark.core_busy": "ratio",
    "spark.driver_gap_s": "s",
    "spark.untagged_jobs": "count",
    **{f"{layer}.spark_jobs": "count" for layer in SPAN_LAYERS},
    **{f"{layer}.executor_run_s": "s" for layer in SPAN_LAYERS},
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.spans_missing": "count",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def isolate_env(work: Path) -> None:
    """Keep every file the run writes inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        TMPDIR=str(work / "tmp"),
        # every JVM, the launcher's too: no perf-data file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    tempfile.tempdir = None


def start_session():
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cores(),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is stopped below either way
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def reset_between_jobs(spark, tables_before: set[str]) -> None:
    """Untimed isolation between repetitions: no cached frame, persisted
    block, or catalog table of one job outlives it."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    for t in spark.catalog.listTables():
        if t.name not in tables_before and not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def engine_counters(jobs, stages, wall_s: float, start_ms: float, end_ms: float) -> dict:
    c = {f"spark.{k}": v for k, v in counters(jobs, stages).items()}
    c["spark.core_busy"] = c["spark.executor_run_s"] / (wall_s * cores()) if wall_s > 0 else 0.0
    c["spark.driver_gap_s"] = max(wall_s - busy_seconds(jobs, start_ms, end_ms), 0.0)
    return c


def span_counters(tracer, jobs, stages, layers: dict[str, str]) -> dict:
    """Engine counters of the jobs submitted under each layer's span or
    any span below it."""
    span_of_job = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        prefix = f"pb-{tracer.run_id}-"
        if g.startswith(prefix):
            span_of_job[j["jobId"]] = int(g[len(prefix):])
    out = {"spark.untagged_jobs": sum(1 for j in jobs if j["jobId"] not in span_of_job)}
    for span_name, layer in layers.items():
        ids = set()
        for s in tracer.by_name(span_name):
            ids |= tracer.descendants(s.id)
        c = counters([j for j in jobs if span_of_job.get(j["jobId"]) in ids], stages)
        out[f"{layer}.spark_jobs"] = c["jobs"]
        out[f"{layer}.executor_run_s"] = c["executor_run_s"]
    return out


def measure(wl, spark, work: Path, seconds: float, trace: bool, t_start: float) -> dict:
    """Make the inputs, run the cold job, time warm repetitions for
    ``seconds``, check the last one's output, and with ``trace`` add one
    traced repetition. Returns the result line and the report."""
    t = time.perf_counter()
    wl.make_inputs(spark)
    input_s = time.perf_counter() - t
    tables_before = {t.name for t in spark.catalog.listTables()}

    attempted = failed = 0
    errors = []

    def attempt(fn, out: Path):
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            fn(spark, out)
        except Exception as exc:  # noqa: BLE001 - counted, the loop goes on
            failed += 1
            errors.append(f"{type(exc).__name__}: {exc}"[:500])
            return None
        return time.perf_counter() - t

    out_dir = lambda k: work / "out" / f"job{k}"  # noqa: E731
    cold = attempt(wl.run, out_dir(0))
    if cold is None:
        raise RuntimeError(f"cold job failed: {errors[-1]}")
    # what a nightly user's fresh process peaks at: session, inputs and
    # one job. Read here, the figure does not grow with the number of
    # warm repetitions the window fits, and the oracle does not count.
    peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())

    reader = StatusReader(spark) if trace else None
    reps, last_ok, engine = [], out_dir(0), {}
    t_measure = time.perf_counter()
    k = 0
    # at least MIN_REPS; beyond that, a repetition starts only if it
    # should end inside the window, so every run measures about
    # ``seconds`` and the run's total time stays predictable
    while len(reps) < MIN_REPS or (
        time.perf_counter() - t_measure + statistics.median(reps) <= seconds
    ):
        if k and time.perf_counter() - t_start > REP_DEADLINE_S:
            break
        # before, not after, each repetition: the last one's state stays
        # in place for the check
        reset_between_jobs(spark, tables_before)
        k += 1
        mark = reader.mark() if reader else None
        start_ms = time.time() * 1e3
        dt = attempt(wl.run, out_dir(k))
        end_ms = time.time() * 1e3
        if dt is not None:
            reps.append(dt)
            if reader:
                engine = engine_counters(*reader.since(mark), dt, start_ms, end_ms)
            shutil.rmtree(last_ok, ignore_errors=True)
            last_ok = out_dir(k)
    if not reps:
        raise RuntimeError(f"every repetition failed: {errors[-1]}")

    t_check = time.perf_counter()
    try:
        ok, why, rows = wl.check(spark, last_ok)
    except Exception as exc:  # noqa: BLE001 - an unreadable output is a wrong one
        ok, why, rows = False, f"check raised {type(exc).__name__}: {exc}"[:500], 0
    reset_between_jobs(spark, tables_before)
    if not ok:
        failed += 1
    job_s = statistics.median(reps)
    metrics = {
        # session start, input generation, and the warm-up (the cold job)
        "setup_s": wl.session_start_s + input_s + cold,
        "cold_job_s": cold,
        "job_s": job_s,
        "input_rows_per_s": wl.input_rows / job_s,
        "output_rows": rows,
    }
    report = {
        "workload": wl.name, "seed": wl.seed, "input_rows": wl.input_rows,
        "cores": cores(), "job_s_samples": reps, "input_s": input_s, "peak_rss_mb": peak_rss,
        "session_start_s": wl.session_start_s, "check": why, "errors": errors,
        "correct": int(ok), "error_rate": failed / attempted,
        "check_s": time.perf_counter() - t_check,
    }
    if trace:
        metrics, report["trace"] = traced_rep(
            wl, spark, work, reader, job_s, engine, tables_before, peak_rss
        )
    return {
        "result": {"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics},
        "report": report,
    }


def traced_rep(
    wl, spark, work: Path, reader, untraced_job_s: float, engine: dict, tables_before, peak_rss: float
):
    tracer = Tracer(spark, f"{os.getpid()}")
    tracer.install(wl.entry_points())
    out = work / "out" / "traced"
    mark = reader.mark()
    start_ms = time.time() * 1e3
    t = time.perf_counter()
    try:
        wl.traced(spark, out, tracer)
    finally:
        tracer.uninstall()
    traced_s = time.perf_counter() - t
    end_ms = time.time() * 1e3
    jobs, stages = reader.since(mark)
    layer, missing = wl.layer_metrics(tracer, out)

    # engine totals come from the last untraced repetition: the traced
    # one adds checkpoint jobs of its own
    produced = {**layer, **engine, **span_counters(tracer, jobs, stages, wl.span_layers)}
    if "operators.graph.components.spark_jobs" in produced:
        produced["operators.graph.components_jobs"] = produced["operators.graph.components.spark_jobs"]
    produced["session.start_s"] = wl.session_start_s
    produced["process.peak_rss_mb"] = peak_rss
    produced["trace.job_s"] = traced_s
    produced["trace.overhead_s"] = traced_s - untraced_job_s
    report = tracer.report()
    produced["trace.spans_missing"] = len(missing) + len(report["missing"])
    metrics = {name: produced.get(name, 0.0) for name in PER_LAYER}
    reasons = {
        name: f"not applicable: the {wl.name} workload does not run this layer"
        for name in PER_LAYER
        if name not in produced
    }
    reasons.update(missing)
    report["traced_engine"] = engine_counters(jobs, stages, traced_s, start_ms, end_ms)
    report["metric_notes"] = reasons
    shutil.rmtree(out, ignore_errors=True)
    reset_between_jobs(spark, tables_before)
    return metrics, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path[:0] = [str(HERE), str(ROOT)]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    isolate_env(work)
    spark = None
    try:
        import st_bigdata_consume_batch_ma_with_cr_ecd_spark  # noqa: F401 - fail fast without the program

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload](ROOT, work, args.seed)
        t = time.perf_counter()
        spark = start_session()
        wl.session_start_s = time.perf_counter() - t
        out = measure(wl, spark, work, args.seconds, bool(args.trace), t_start)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    out["report"]["run_wall_s"] = time.perf_counter() - t_start
    print(json.dumps({"report": out["report"]}, default=str))
    res = out["result"]
    res["metrics"] = {
        k: {"value": float(v), "unit": (PER_LAYER if args.trace else END_TO_END)[k]}
        for k, v in res["metrics"].items()
    }
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
