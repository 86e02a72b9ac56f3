"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The last test starts a small Spark session and runs the nightly job
three times (about a minute on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import types
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import run  # noqa: E402
from tracer import EntryPoint, Span, Tracer, self_times, union_length  # noqa: E402


def _digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


@pytest.mark.parametrize("writer", [gen.write_events, gen.write_documents])
def test_same_seed_same_bytes(tmp_path, writer):
    a, b, c = tmp_path / "a.parquet", tmp_path / "b.parquet", tmp_path / "c.parquet"
    writer(str(a), 2000, 7)
    writer(str(b), 2000, 7)
    writer(str(c), 2000, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_events_layout_matches_testdata(tmp_path):
    p = tmp_path / "events.parquet"
    gen.write_events(str(p), 5000, 1)
    f = pq.ParquetFile(p)
    assert f.metadata.num_row_groups == 1
    assert [c.name for c in f.schema] == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ts = f.schema.column(1).logical_type.to_json()
    assert '"timeUnit": "microseconds"' in ts and '"isAdjustedToUTC": false' in ts
    t = f.read()
    assert set(t["event_type"].to_pylist()) == set(gen.EVENT_TYPES)
    days = {d.day for d in t["ts"].to_pylist()}
    assert min(days) == 1 and max(days) == 30


def test_events_layout_equals_testdata_file(tmp_path):
    """Column types, logical types and codecs equal those of the
    testdata ``events.parquet`` in $SPARK_GRAFT_SF_DIR."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not (Path(sf_dir) / "events.parquet").is_file():
        pytest.skip("SPARK_GRAFT_SF_DIR does not name a testdata directory")
    p = tmp_path / "events.parquet"
    gen.write_events(str(p), 5000, 1)
    f, r = pq.ParquetFile(p), pq.ParquetFile(Path(sf_dir) / "events.parquet")
    assert f.schema.to_arrow_schema().remove_metadata() == r.schema.to_arrow_schema().remove_metadata()
    for i in range(len(f.schema)):
        assert str(f.schema.column(i).logical_type) == str(r.schema.column(i).logical_type)
        assert f.metadata.row_group(0).column(i).compression == r.metadata.row_group(0).column(i).compression


def test_documents_near_duplicate_share(tmp_path):
    t = gen.documents_table(4000, 3)
    texts = t["text"].to_pylist()
    assert t["doc_id"].to_pylist() == list(range(4000))
    # a near-duplicate shares most of its 3-shingles with the doc before it
    def sh(s):
        w = s.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    near = sum(
        1 for a, b in zip(texts, texts[1:])
        if len(sh(a) & sh(b)) / max(len(sh(a) | sh(b)), 1) >= 0.5
    )
    assert 0.06 < near / len(texts) < 0.14
    assert 200 < sum(map(len, texts)) / len(texts) < 400


def test_self_time_subtracts_union_of_overlapping_children():
    root = Span(1, "root", None, 0.0, 10.0)
    kids = [
        Span(2, "a", 1, 1.0, 4.0),
        Span(3, "b", 1, 2.0, 6.0),  # overlaps a: union of a and b is [1, 6]
        Span(4, "c", 1, 8.0, 12.0),  # runs past the parent: clipped to [8, 10]
        Span(5, "grandchild", 2, 1.5, 3.5),  # not a direct child of root
    ]
    st = self_times([root, *kids])
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 2.0)
    assert st[3] == pytest.approx(4.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def _fake_spark():
    props = {}
    sc = types.SimpleNamespace(setLocalProperty=lambda k, v: props.__setitem__(k, v))
    return types.SimpleNamespace(sparkContext=sc), props


def test_tracer_reports_gone_entry_points_and_restores(monkeypatch):
    mod = types.ModuleType("perfbench_fake_layer")
    mod.work = lambda x: x + 1
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    spark, props = _fake_spark()
    tr = Tracer(spark, "t")
    original = mod.work
    tr.install([
        EntryPoint(mod.__name__, "work", "layer.work"),
        EntryPoint(mod.__name__, "renamed_away", "layer.gone"),
        EntryPoint("perfbench_no_such_module", "x", "layer.x"),
    ])
    with tr.span("root"):
        assert mod.work(1) == 2
        assert props["spark.jobGroup.id"] == "pb-t-1"
    tr.uninstall()
    assert mod.work is original
    rep = tr.report()
    assert set(rep["missing"]) == {
        f"{mod.__name__}:renamed_away", "perfbench_no_such_module:x"
    }
    assert [s.name for s in tr.spans] == ["root", "layer.work"]
    assert tr.spans[1].parent == tr.spans[0].id
    assert props["spark.jobGroup.id"] is None


def test_benchmark_json_lists_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        __import__("workloads").WORKLOADS
    )


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    run.isolate_env(work)
    s = run.start_session()
    yield s, work
    run.stop_session(s)


def test_corrupted_output_flips_correct_and_counts_as_failed(spark):
    from workloads import Nightly

    session, work = spark

    class CorruptingNightly(Nightly):
        def run(self, spark, out):
            super().run(spark, out)
            part = next((out / "parquet").rglob("*.parquet"))
            t = pq.read_table(part)
            i = t.schema.get_field_index("classified_estateType")
            vals = t.column(i).to_pylist()
            vals[0] = "CORRUPTED"
            # Spark writes timestamps as INT96; keep that physical type
            pq.write_table(
                t.set_column(i, t.schema.field(i), [vals]), part,
                use_deprecated_int96_timestamps=True,
            )
            # the local file system verifies checksums on read
            part.with_name(f".{part.name}.crc").unlink(missing_ok=True)

    wl = CorruptingNightly(ROOT, work, seed=5, events=2000)
    wl.session_start_s = 0.0
    out = run.measure(wl, session, work, seconds=0, trace=False, t_start=time.perf_counter())
    res, rep = out["result"], out["report"]
    assert res["correct"] is False
    assert res["failed"] == 1 and res["attempted"] == 3
    assert rep["correct"] == 0 and rep["error_rate"] == pytest.approx(1 / 3)
    assert "value hash" in rep["check"]

    clean = Nightly(ROOT, work, seed=5, events=2000)
    clean.session_start_s = 0.0
    out = run.measure(clean, session, work, seconds=0, trace=False, t_start=time.perf_counter())
    assert out["result"]["correct"] is True and out["result"]["failed"] == 0
