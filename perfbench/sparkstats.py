"""Engine counters from the session's status store.

The status store (``SparkContext.statusStore``) is filled by the
listener bus whether or not the web UI runs, and its job and stage
records serialize to JSON with the Jackson mapper on Spark's own class
path, so one py4j call reads them all.
"""

from __future__ import annotations

import json
import time

from tracer import union_length

_RAN = {"COMPLETE", "FAILED", "ACTIVE"}


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    def _drain(self) -> None:
        try:
            self._bus.waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; a short wait does the same
            time.sleep(0.5)

    def jobs(self) -> list[dict]:
        self._drain()
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        self._drain()
        d = lambda k: getattr(self._store, f"stageList$default${k}")()  # noqa: E731
        return json.loads(
            self._mapper.writeValueAsString(self._store.stageList(None, d(2), d(3), d(4), d(5)))
        )

    def mark(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def since(self, mark: int) -> tuple[list[dict], dict[int, dict]]:
        jobs = [j for j in self.jobs() if j["jobId"] > mark]
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        stages = {s["stageId"]: s for s in self.stages() if s["stageId"] in wanted}
        return jobs, stages


def counters(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Totals over ``jobs``: every stage that ran (skipped stages reused
    an earlier shuffle and did no work) is counted once."""
    ran = {
        sid: stages[sid]
        for j in jobs
        for sid in j["stageIds"]
        if sid in stages and stages[sid]["status"] in _RAN
    }
    s = ran.values()
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(x["numCompleteTasks"] + x["numFailedTasks"] for x in s),
        "failed_tasks": sum(x["numFailedTasks"] for x in s),
        "executor_run_s": sum(x["executorRunTime"] for x in s) / 1e3,
        "executor_cpu_s": sum(x["executorCpuTime"] for x in s) / 1e9,
        "jvm_gc_s": sum(x["jvmGcTime"] for x in s) / 1e3,
        "shuffle_write_bytes": sum(x["shuffleWriteBytes"] for x in s),
        "shuffle_read_bytes": sum(x["shuffleReadBytes"] for x in s),
        "spill_bytes": sum(x["memoryBytesSpilled"] + x["diskBytesSpilled"] for x in s),
    }


def busy_seconds(jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Wall time inside [start, end] during which at least one job ran."""
    iv = [
        (max(j["submissionTime"], start_ms), min(j["completionTime"], end_ms))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    return union_length([(s, e) for s, e in iv if e > s]) / 1e3
