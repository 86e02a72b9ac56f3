"""Custom Python DataSource (PySpark 4 ``spark.dataSource`` API).

The modern way to plug a NEW source protocol into Spark from pure
Python: subclass :class:`pyspark.sql.datasource.DataSource`, return
partitioned readers, and Spark schedules ``read(partition)`` calls
across executors like any other scan — no JVM code, no DSv2 Scala.

This module ships a deterministic synthetic event-log source
(``synthetic_events``): every field of row ``i`` derives from
``md5(i)``, so (a) generation is embarrassingly parallel — each input
partition generates its slice independently, no coordination, the
shape a 100-TB load test generator needs — and (b) the whole source is
REPLAYABLE in SQL, which lets the driver gate hash-verify a custom
Python connector end to end (DuckDB regenerates the identical rows
from ``generate_series``).

Filter pushdown: ``pushFilters`` accepts equality/range filters on
``row_id`` by narrowing the generated range — demonstrating the
Spark 4.1 Python-source pushdown hook — and leaves every other filter
for Spark to apply post-scan.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

EVENT_TYPES = ("view", "click", "purchase", "refund")

_SCHEMA = "row_id bigint, user_id bigint, event_type string, ts_epoch bigint, value double"


def synth_row(i: int, n_users: int, start_epoch: int) -> tuple:
    """The one definition of row ``i`` — shared by every partition and
    (symbolically) by the SQL oracle replay."""
    h = hashlib.md5(str(i).encode()).hexdigest()
    user_id = int(h[:8], 16) % n_users
    event_type = EVENT_TYPES[int(h[8:10], 16) % len(EVENT_TYPES)]
    value = (int(h[10:18], 16) % 100000) / 100.0
    return (i, user_id, event_type, start_epoch + i, value)


@dataclass
class _Slice(InputPartition):
    start: int
    end: int


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10_000))
        self.n_users = int(options.get("n_users", 100))
        self.start_epoch = int(options.get("start_epoch", 1_700_000_000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self.lo = 0
        self.hi = self.n_rows

    def pushFilters(self, filters):
        # Narrow the generated range for row_id equality AND range
        # predicates; everything else (yielded back) is applied by
        # Spark after the scan.
        for f in filters:
            if getattr(f, "attribute", None) != ("row_id",):
                yield f
            elif isinstance(f, EqualTo):
                v = int(f.value)
                self.lo, self.hi = max(self.lo, v), min(self.hi, v + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, int(f.value) + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, int(f.value))
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, int(f.value) + 1)
            else:
                yield f

    def partitions(self):
        span = max(0, self.hi - self.lo)
        n = max(1, min(self.n_partitions, span or 1))
        step = (span + n - 1) // n if span else 0
        if span == 0:
            return [_Slice(0, 0)]
        return [
            _Slice(self.lo + k * step, min(self.lo + (k + 1) * step, self.hi))
            for k in range(n)
            if self.lo + k * step < self.hi
        ]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            yield synth_row(i, self.n_users, self.start_epoch)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` after
    ``spark.dataSource.register(SyntheticEventsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(SyntheticEventsDataSource)


# ---------------------------------------------------------------------------
# Streaming read path: offset-tracked micro-batches from the same generator
# ---------------------------------------------------------------------------


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector (``spark.readStream.format(
    "synthetic_events")``): the engine drives the offset protocol —
    ``initialOffset`` → repeated ``read(start)`` (each advances the
    offset by ``rows_per_batch``) → ``commit`` once a batch is
    checkpointed; ``readBetweenOffsets`` REPLAYS a batch after restart,
    which is what makes the source exactly-once-capable: the same
    md5-derived generator regenerates byte-identical rows for any
    offset range, the replayability contract Kafka gives via offsets.

    Bounded by ``n_rows`` so availableNow drains terminate in tests;
    production sources are unbounded (read() blocks/returns empty at
    the head).
    """

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 10_000))
        self.n_users = int(options.get("n_users", 100))
        self.start_epoch = int(options.get("start_epoch", 1_700_000_000))
        self.rows_per_batch = int(options.get("rows_per_batch", 1000))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = int(start["next"])
        hi = min(lo + self.rows_per_batch, self.n_rows)
        end = {"next": hi}
        return (self.readBetweenOffsets(start, end), end)

    def _rows(self, start: dict, end: dict) -> list:
        return [
            synth_row(i, self.n_users, self.start_epoch)
            for i in range(int(start["next"]), int(end["next"]))
        ]

    def readBetweenOffsets(self, start: dict, end: dict):
        # a list ITERATOR: the engine requires an iterator (it calls
        # next()) that is also picklable for the prefetch/replay cache —
        # generators are not picklable, list iterators are
        return iter(self._rows(start, end))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the generator can replay any range
