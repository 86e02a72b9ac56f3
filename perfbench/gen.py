"""Seeded input generators: the same seed gives byte-identical parquet.

Both tables follow the physical layout of the repo's synthetic testdata
(TESTDATA.md), so the program reads them through its ordinary readers:

- ``events``: event_id, ts, user_id, event_type, value, props, one row
  group, snappy. ``ts`` is INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false),
  as in every testdata ``events.parquet`` file (the docstring of
  ``sources.readers.read_testdata`` speaks of NANOS, but the files hold
  micros). ``sources.readers.load_nanos_events`` reads it through its
  TIMESTAMP_NTZ branch; the session pins the time zone to UTC, so the
  dates it derives do not depend on the machine. Events span
  2024-01-01 .. 2024-01-30 with the uniform 5-type mix and ~1.5 users
  (listings) per 100 events.
- ``documents``: doc_id, text, lang, source, n_chars over the testdata's
  31-word vocabulary, ~300 characters per document, with a controlled
  share (``DUP_SHARE``) of near-duplicates made by token edits, in
  clusters of 2-4.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
USERS_PER_EVENT = 1500 / 100_000
_JAN_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_WINDOW_US = 30 * 86_400 * 1_000_000  # through 2024-01-30 23:59:59

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20
DUP_SHARE = 0.10


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=max(table.num_rows, 1))


def events_table(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, _WINDOW_US, n)) + _JAN_START_US
    n_users = max(int(round(n * USERS_PER_EVENT)), 1)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _edit(tokens: list[str], rng: np.random.Generator, n_edits: int) -> list[str]:
    out = list(tokens)
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        i = int(rng.integers(0, len(out)))
        if op == 0:
            out[i] = VOCAB[rng.integers(0, len(VOCAB))]
        elif op == 1:
            out.insert(i, VOCAB[rng.integers(0, len(VOCAB))])
        elif len(out) > 8:
            del out[i]
    return out


def documents_table(n: int, seed: int) -> pa.Table:
    """``n`` documents; about ``DUP_SHARE`` of them are near-duplicates
    (1-3 token edits) of an earlier base document, in clusters of 2-4.
    Duplicates get the doc ids right after their base's, so ids stay
    0..n-1."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    while len(texts) < n:
        base = list(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), rng.integers(10, 90))])
        texts.append(" ".join(base))
        # a base gets 1-3 copies with probability p, so that
        # copies / all docs ~= DUP_SHARE (mean copies per cluster is 2)
        if rng.random() < DUP_SHARE / (2 * (1 - DUP_SHARE)):
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) < n:
                    texts.append(" ".join(_edit(base, rng, int(rng.integers(1, 4)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_events(path: str, n: int, seed: int) -> int:
    _write(events_table(n, seed), path)
    return n


def write_documents(path: str, n: int, seed: int) -> int:
    _write(documents_table(n, seed), path)
    return n
