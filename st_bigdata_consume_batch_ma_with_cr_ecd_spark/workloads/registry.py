"""Registry pairing each Spark query with its DuckDB oracle.

One source of truth consumed by three surfaces:

- ``__spark_entry__.queries()`` / ``oracle_sql()`` (the driver gate)
- ``bench.py`` (specs tagged ``bench``)
- ``tools/check_correctness.py`` (local Spark-vs-DuckDB harness)

Determinism contract for every registered query (SURVEY.md §4):
results must be a *set* of rows reproducible bit-for-bit — so every
window uses a total order (unique tiebreak) and every float aggregate
is rounded identically on both sides (accumulation-order noise in
double sums would otherwise break the driver's value hash).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# The external driver's correctness gate evaluates a bounded PREFIX of
# the queries() map (~50 of the registry per round). Rounds 1-2
# hand-curated that prefix; the round-2 review correctly called the
# curation out as a sampling bias (regressions outside the window
# escape the gate). The fix is a self-maintaining ROTATION: order
# queries by the round in which the driver last checked them
# (never-checked first, then stalest, ties broken by registration
# order); since r4 a FAILED driver row (err or any false match flag)
# counts as never-checked, so failures re-enter the very next window.
# Each round the driver's record files (CORRECTNESS_r*.json at the
# repo root) advance the rotation automatically, so over a few rounds
# every query gets a driver-green row, and newly added queries always
# enter a subsequent window. tools/check_correctness.py still covers
# the FULL registry locally every round — the rotation only decides
# which slice lands in the driver's own record.

# Queries whose registered semantics OR physical computation changed,
# mapped to the ROUND in which the change landed: treated as
# never-checked so the driver re-verifies them even if a past round
# checked the old behavior. "Physical computation" includes
# implementation reworks that claim identical outputs (a new
# verify-join shape, a different staging strategy) — the r6 review
# found the narrower output-semantics-only reading let the
# prefix-filter verify rewrite ship on a pre-rework driver green; the
# driver record is the contract of record, so reworks re-enter the
# window the round they land. Pure refactors (rename, move, comment)
# still don't qualify.
#
# The value is the DECLARED round, which makes self-expiry precise: a
# query front-runs while its last driver green is OLDER than the round
# its behavior changed, and rotates normally once a same-or-later
# record covers it. (The previous frozenset expired against "the
# newest record file", which mis-fired in exactly the common case: a
# query green in round N whose semantics change in round N+1 was
# treated as already re-verified because its N green equalled the
# newest record — the stale green satisfied the old condition and the
# rework would have shipped ungated, the r6 complaint all over again.)
FORCE_RECHECK: dict[str, int] = {
    # (the map records PENDING re-verifications only — entries clear
    # once a same-or-later driver green covers them, r9 verdict ask #2.
    # r11's eval_retrieval_ndcg entry cleared: d11-green covers it.)
    #
    # r12: the store->merge->serve lifecycles moved onto the shared
    # sinks/indexes.py module (r11 verdict ask #6). The class methods
    # call the same versioned-table functions with the same arguments
    # — plans and store layouts are unchanged, and the full local
    # harness re-verified every row bit-exact — but the registrations'
    # physical wiring was touched, so per the physical-rework policy
    # they re-enter the driver window the round the rework lands.
    "dedup_image_incremental_served": 12,
    "dedup_audio_incremental_served": 12,
    "dedup_minhash_incremental_served": 12,
    "ann_topk_ivf_stored": 12,
    "ann_topk_ivf_pruned_serve": 12,
    "ann_ivf_index_merge_serve": 12,
    "ann_topk_reweighted_served": 12,
    "ann_topk_ivfpq_stored": 12,
    "ann_topk_ivfpq_packed": 12,
    "ann_ivfpq_index_merge_serve": 12,
    "retrieval_bm25_served": 12,
    "retrieval_hybrid_rrf_served": 12,
    #
    # r13: corpus_multimodal_incremental_summary's three inline
    # store->merge->serve copies moved onto sinks/indexes.py (r12
    # verdict ask #2; same versioned-table calls, same layouts), and
    # eval_reweight_ivfpq_recall gained the retrained-quantizer system
    # rows (r12 verdict ask #4) — both physical reworks re-enter the
    # driver window. Window arithmetic (r12 verdict ask #3): 1 pinned
    # + 2 new registrations + these 2 = 5 front-runners, leaving the
    # 50-slot window exactly the 45 d7-cohort rows — nothing older
    # than d8 survives r13, and the text factory's store wiring
    # (the OTHER lifecycle rework, factory_store_build /
    # factory_nightly_batch) is consciously deferred to r14 because
    # its FORCE_RECHECK would displace a d7 row past the rotation
    # deadline (declared in SCALE.md, the r12-prescribed pattern).
    "corpus_multimodal_incremental_summary": 13,
    "eval_reweight_ivfpq_recall": 13,
    #
    # r14 (optimization round 2): physical reworks that claim identical
    # outputs re-enter the window per the policy above.
    # - the text factory's store wiring moved onto sinks/indexes.py
    #   (the r12-declared lifecycle consolidation deferred from r13 —
    #   same versioned-table calls, same layouts; both consumers):
    "pipeline_corpus_factory_nightly": 14,
    "streaming_corpus_factory": 14,
    # - the ngram overlap-counts family dropped the r13 exchange-width
    #   pin ahead of its checkpointed shingle grouping (the one real
    #   regression of the r13 pins; unpinned A/B 4.41->3.07 s /
    #   3.00->2.50 s):
    "dedup_ngram_jaccard": 14,
    "dedup_ngram_jaccard_pruned": 14,
    "dedup_ngram_containment": 14,
    # - PageRank's edge list cached partitioned+sorted on src so the
    #   per-iteration contribution join stops exchanging the edges:
    "graph_pagerank_fixed": 14,
    #
    # Window arithmetic (the r12-prescribed pattern): 1 pinned
    # (pipeline_consume_batch_e2e) + 6 FORCE_RECHECK rows above = 7
    # front slots, leaving 43 of the 50 for the stalest rotation
    # cohort — no new registrations this round (optimization only).
}

# Queries pinned into EVERY driver window regardless of rotation age
# (r4 review ask #8): the consume-batch e2e composes the entire
# reference §2 surface in one hash, so a regression anywhere in that
# chain must never hide for the ~3 rounds a full rotation takes.
ALWAYS_CHECK: frozenset[str] = frozenset({"pipeline_consume_batch_e2e"})

_MATCH_FLAGS = ("rows_match", "schema_match", "hash_match")


def _entry_passed(entry: object) -> bool:
    """A driver record row counts as "checked" only if it PASSED: any
    ``err`` or false match flag means the row must re-enter the next
    window (the rotation is also a retry queue for failures — r3 review
    ask #2). Exception: ``err == "no_oracle"`` with an integer
    ``spark_rows`` IS the driver's full rows-only contract for
    oracle-less queries (``__spark_entry__`` registers no SQL twin on
    purpose), so it counts as checked — otherwise those queries
    re-enter every window forever and permanently leak slots (r4
    review ask #2). "Ran and returned 0 rows" is a PASS for that
    contract (the r5 advice found the earlier ``rows > 0`` form
    re-leaked the empty-result case); only an absent/non-integer row
    count — the query never actually produced a result — re-enters.
    Unknown shapes count as passed (conservative: don't let a
    record-format change resurrect the whole registry at once)."""
    if not isinstance(entry, dict):
        return True
    if entry.get("err") == "no_oracle":
        # bool is an int subclass: {"spark_rows": false} must NOT count
        # as "ran and produced a row count" (r6 ADVICE)
        rows = entry.get("spark_rows")
        return isinstance(rows, int) and not isinstance(rows, bool)
    if entry.get("err"):
        return False
    return all(bool(entry.get(f, True)) for f in _MATCH_FLAGS)


def _last_checked_round() -> dict[str, int]:
    """Per-query round number of the most recent PASSED driver check,
    read from the driver's own CORRECTNESS_r*.json records at the repo
    root. Failed rows (err set, or any match flag false) are skipped,
    so a red row sorts as if never checked that round and automatically
    leads the next window. Missing/corrupt files degrade to
    registration order (empty map)."""
    last: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            record = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(record, dict):
            for name, entry in record.items():
                if _entry_passed(entry):
                    last[name] = max(last.get(name, 0), rnd)
    return last


def _first_registered() -> dict[str, int]:
    """Per-query round of FIRST registration, from the committed ledger
    (registry_ledger.json, maintained alongside every registration —
    tests/test_workloads.py enforces the ledger stays complete). Breaks
    never-checked ties by AGE: a query waiting since r3 outranks one
    registered this round even if the newer one sits earlier in a
    source file — without this, mid-file insertions would displace the
    oldest unchecked queries from the driver's bounded window."""
    path = Path(__file__).resolve().parent / "registry_ledger.json"
    try:
        data = json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return {}
    return {k: int(v) for k, v in data.items()} if isinstance(data, dict) else {}


def _ordered_specs() -> list[QuerySpec]:
    """Registry specs in rotation order: ALWAYS_CHECK pins first, then
    least-recently-driver-checked (never-checked and FORCE_RECHECK
    lead), oldest-registered then registration order as the tiebreaks —
    deterministic for a given set of record files.

    FORCE_RECHECK is SELF-EXPIRING: a query front-runs the window only
    while its last PASSED driver check predates the round its behavior
    was declared changed (the map value), after which it rotates
    normally — otherwise a stale force list would pin window slots
    forever."""
    last = _last_checked_round()
    newest = max(last.values(), default=0)
    first = _first_registered()
    reg_index = {name: i for i, name in enumerate(REGISTRY)}

    def sort_key(spec: QuerySpec) -> tuple[int, int, int]:
        rnd = last.get(spec.name)
        since = FORCE_RECHECK.get(spec.name)
        if spec.name in ALWAYS_CHECK:
            rnd = -2  # pinned into every window, ahead of everything
        elif since is not None and (rnd is None or rnd < since):
            rnd = -1  # ahead even of never-checked: semantics changed
        elif rnd is None:
            rnd = 0
        return (rnd, first.get(spec.name, newest + 1), reg_index[spec.name])

    return sorted(REGISTRY.values(), key=sort_key)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return deco


def queries_map() -> dict[str, QueryFn]:
    return {spec.name: spec.fn for spec in _ordered_specs()}


def oracle_sql_map() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle is not None}


def bench_specs() -> list[QuerySpec]:
    return [s for s in REGISTRY.values() if "bench" in s.tags]
