"""LLM-pipeline operator tests: dedup determinism, similarity math,
text analysis, multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import (
    attach_binary_payload,
    extract_image_features,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
    brute_force_topk,
    cosine_pairs,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.text import fingerprint, lang_scores

from .conftest import rows_set


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different text about spark engines here"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, "hi"),  # too short for 3-shingles
        ],
        "doc_id long, text string",
    )


# ---------------------------------------------------------------- dedup


def test_exact_dedup_groups(spark, docs):
    out = exact_dedup_groups(docs)
    by_copies = {r.keep_id: r.n_copies for r in out.collect()}
    assert by_copies[1] == 2  # docs 1 and 4 collapse, min id kept
    assert by_copies[2] == 1 and by_copies[3] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 4)] == 1.0  # identical shingle sets
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] < 1
    assert all(a < b for a, b in pairs)  # canonical pair orientation
    assert not any(3 in p for p in pairs)  # unrelated doc stays out


def test_ngram_jaccard_stop_shingle_pruning(spark, docs):
    # freq cap 1 removes every shingle shared by 2+ docs -> no overlaps remain
    out = ngram_jaccard_pairs(docs, max_shingle_freq=1)
    assert out.count() == 0


def test_minhash_signature_shape_and_determinism(spark, docs):
    sigs = minhash_signatures(docs, num_hashes=8)
    rows = {r.doc_id: tuple(r.signature) for r in sigs.collect()}
    assert set(rows) == {1, 2, 3, 4}  # doc 5 (< 3 tokens) dropped
    assert all(len(s) == 8 for s in rows.values())
    assert rows[1] == rows[4]  # identical docs -> identical signatures
    # deterministic: first hash = min over the first-8-md5-bytes integer
    # of '0:'||shingle (the decimal form that keeps the agg hash-based)
    toks = "the quick brown fox jumps over the lazy dog".split()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    expected_h0 = min(
        int.from_bytes(hashlib.md5(f"0:{s}".encode()).digest()[:8], "big") for s in shingles
    )
    assert int(rows[1][0]) == expected_h0


def test_lsh_candidates_include_exact_dup_pair(spark, docs):
    sigs = minhash_signatures(docs, num_hashes=16)
    pairs = rows_set(lsh_candidate_pairs(sigs, bands=4, rows_per_band=4))
    assert (1, 4) in pairs  # identical signature -> every band matches
    assert all(a < b for a, b in pairs)


def test_simhash_known_value_and_near_dup_distance(spark, docs):
    out = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert out[1] == out[4]
    assert len(out[1]) == 16 and int(out[1], 16) >= 0
    # near-dups differ in few bits; unrelated docs in many
    def hamming(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


# ---------------------------------------------------------------- similarity


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),  # close to 0
            (2, [0.0, 1.0, 0.0]),  # orthogonal to 0
            (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        ],
        "vec_id long, embedding array<float>",
    )


def test_cosine_pairs_threshold(spark, vecs):
    got = {(r.id_a, r.id_b): r.cosine for r in cosine_pairs(vecs, threshold=0.9).collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(0.993884, abs=1e-6)


def test_cosine_pairs_guards_against_full_cross(spark, vecs):
    # the all-pairs baseline must refuse big inputs unless the caller
    # explicitly opts in — at corpus scale the O(n^2) join never finishes
    with pytest.raises(ValueError, match="allow_full_cross"):
        cosine_pairs(vecs, max_rows=2)
    # explicit opt-in bypasses the guard (and the count scan)
    assert cosine_pairs(vecs, max_rows=2, allow_full_cross=True, threshold=0.9).count() == 1


def test_semantic_dedup_min_id_survivor_and_chain(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import semantic_dedup

    # one centroid -> everything in one cell; 0,1 are near-dups, 2 is
    # orthogonal to both, 3 is a near-dup of 0 as well
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.95, 0.05, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.9, 0.0, 0.1]),
            (4, None),  # null embedding must be dropped, not crash the UDF
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: r.kept
        for r in semantic_dedup(df, centroids=[[1.0, 1.0, 1.0]], threshold=0.9).collect()
    }
    # min-id survivor: 0 kept; 1 and 3 removed (cos >= 0.9 against 0);
    # 2 kept (orthogonal); null row absent entirely
    assert out == {0: True, 1: False, 2: True, 3: False}


def test_semantic_dedup_oversized_cell_skips_dedup(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [1.0, 0.0, float(i) * 1e-3]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    # all 10 rows are mutual near-dups, but the cell exceeds the cap ->
    # the skew guard keeps everything (under-dedup, never a B^2 blowup)
    out = semantic_dedup(df, centroids=[[1.0, 0.0, 0.0]], threshold=0.9, max_cell_size=5)
    assert [r.kept for r in out.collect()] == [True] * 10
    # with the cap lifted, only the min id survives
    out2 = semantic_dedup(df, centroids=[[1.0, 0.0, 0.0]], threshold=0.9, max_cell_size=None)
    kept = {r.vec_id for r in out2.collect() if r.kept}
    assert kept == {0}


def test_lsh_bucket_udf_propagates_null_embeddings(spark):
    # NULL embedding rows must flow through bucketing as NULL (then be
    # dropped by the explode), not crash np.vstack with a ragged array
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        cosine_pairs_lsh,
        hyperplane_tables,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.01, 0.0]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    tables = hyperplane_tables(n_tables=2, n_planes=2, dim=3, seed=7)
    got = {(r.id_a, r.id_b) for r in cosine_pairs_lsh(df, tables=tables, threshold=0.9).collect()}
    assert got == {(0, 1)}  # null row silently excluded, no crash


def test_brute_force_topk_ranks_by_cosine(spark, vecs):
    out = brute_force_topk(vecs, vecs.where(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.cosine) for r in out.orderBy(F.desc("cosine")).collect()]
    assert [n for n, _ in got] == [1, 2]  # nearest first; opposite vector excluded by k=2


# ---------------------------------------------------------------- text


def test_subword_encoder_greedy_longest_match():
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import _encoder

    enc = _encoder(["the", "th", "t", "h", "e", "ab", "abc", "a", "b", "c"])
    assert enc("the") == (1, 0)          # whole-word piece wins
    assert enc("thee") == (2, 0)         # the + e
    assert enc("abcabc") == (2, 0)       # abc (longest) twice, not ab+c
    assert enc("tx") == (2, 1)           # t + <unk>(x)
    assert enc("999") == (3, 3)          # all-unk advances one char at a time
    assert enc("") == (0, 0)
    with pytest.raises(ValueError):
        _encoder([""])


def test_subword_token_counts_per_document(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import (
        subword_token_counts,
    )

    df = spark.createDataFrame(
        [(1, "the the abc"), (2, "  "), (3, "zz")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_pieces, r.n_unk, r.pieces_per_token)
        for r in subword_token_counts(
            df, vocab=["the", "a", "b", "c"]
        ).collect()
    }
    assert got[1] == (3, 5, 0, round(5 / 3, 4))  # the, the, a+b+c
    assert got[2] == (0, 0, 0, None)             # whitespace-only -> no tokens
    assert got[3] == (1, 2, 2, 2.0)              # z twice -> two <unk>


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("  Hello   World ",), ("hello world",)], "text string")
    fps = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_lang_scores_pred(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("der hund und die katze",), ("zzz qqq",)], "text string"
    )
    cols = lang_scores("text")
    out = [r.pred for r in df.select(cols["pred_lang"].alias("pred")).collect()]
    assert out == ["en", "de", "unknown"]


# ---------------------------------------------------------------- multimodal


def test_multimodal_fake_decode_features(spark):
    df = spark.createDataFrame([(7, "AB rest of payload")], "doc_id long, text string")
    out = extract_image_features(attach_binary_payload(df)).collect()[0]
    assert out.doc_id == 7
    assert out.n_bytes == len("AB rest of payload")
    assert out.width == (ord("A") % 64) + 1
    assert out.height == (ord("B") % 64) + 1


def test_multimodal_real_decode_rejects_non_image_bytes(spark):
    # fake_decode=False now REALLY parses BMP headers — text bytes must
    # fail loudly with the offending field, never decode to garbage
    df = spark.createDataFrame([(1, "xy")], "doc_id long, text string")
    pipeline = extract_image_features(attach_binary_payload(df), fake_decode=False)
    with pytest.raises(Exception, match="BMP|magic"):
        pipeline.collect()


def test_multimodal_real_bmp_decode_roundtrip(spark):
    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.codecs import (
        decode_bmp,
        encode_bmp,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import resize_images

    rng = np.random.default_rng(11)
    img_a = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)  # odd width -> row padding
    img_b = rng.integers(0, 256, (3, 8, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(img_a))), (2, bytearray(encode_bmp(img_b))), (3, None)],
        "doc_id long, payload binary",
    )
    feats = {r.doc_id: r for r in extract_image_features(df, fake_decode=False).collect()}
    assert (feats[1].width, feats[1].height) == (5, 6)
    assert (feats[2].width, feats[2].height) == (8, 3)
    assert (feats[3].width, feats[3].height, feats[3].n_bytes) == (0, 0, 0)

    resized = {r.doc_id: r for r in resize_images(df, 4, 2, fake_decode=False).collect()}
    assert resized[3].payload is None
    out = decode_bmp(bytes(resized[1].payload))
    assert out.shape == (2, 4, 3)
    # nearest-neighbor: output pixel (y, x) samples input (y*h//th, x*w//tw)
    expect = img_a[(np.arange(2) * 6) // 2][:, (np.arange(4) * 5) // 4]
    assert (out == expect).all()


def test_multimodal_real_wav_decode_levels(spark):
    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.codecs import encode_wav
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import (
        extract_audio_features,
    )

    mono = np.array([0, 1000, -2000, 500], dtype=np.int16)
    stereo = np.array([[100, -100], [30000, -30000]], dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(mono))), (2, bytearray(encode_wav(stereo))), (3, None)],
        "doc_id long, payload binary",
    )
    audio = {r.doc_id: r for r in extract_audio_features(df, fake_decode=False).collect()}
    assert audio[1].n_samples == 4 and audio[1].peak_level == 2000
    assert audio[1].mean_level == pytest.approx((0 + 1000 + 2000 + 500) / 4, abs=1e-4)
    assert audio[2].n_samples == 2 and audio[2].peak_level == 30000
    assert audio[3].n_samples == 0 and audio[3].peak_level == 0


def test_audio_energy_windows_integer_features(spark):
    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.codecs import encode_wav
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import (
        audio_energy_windows,
    )

    # 6 samples, window=4: full window [1,-1,0,-32768] + trailing [5,-5].
    # sign flips (s<0 convention, 0 is non-negative): window 0 has
    # 1->-1, -1->0, 0->-32768 = 3; window 1 has 5->-5 = 1; the
    # -32768->5 flip at the boundary belongs to NEITHER window.
    clip = np.array([1, -1, 0, -32768, 5, -5], dtype=np.int16)
    df = spark.createDataFrame(
        [(7, bytearray(encode_wav(clip)))], "doc_id long, payload binary"
    )
    out = {r.window_idx: r for r in audio_energy_windows(df, window=4).collect()}
    w0, w1 = out[0], out[1]
    # abs taken AFTER int64 widening: |−32768| must be 32768, not the
    # int16 overflow back to -32768
    assert w0.n == 4 and w0.sum_abs == 1 + 1 + 0 + 32768 and w0.zero_crossings == 3
    assert w1.n == 2 and w1.sum_abs == 10 and w1.zero_crossings == 1


# ---------------------------------------------------------------- ANN quality


def test_lsh_topk_recall_against_bruteforce(spark, sf_dir):
    # the approximate path must find most of the true neighbors
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import lsh_bucketed_topk
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    embs = read_testdata(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 10)
    truth = brute_force_topk(embs, queries, k=5)
    approx = lsh_bucketed_topk(embs, queries, k=5, n_planes=4, n_tables=16)
    t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(t & a) / len(t)
    # measured 0.84 on the near-random synthetic embeddings (real corpora
    # cluster and do better); margin below that against plane-seed drift
    assert recall >= 0.7, f"LSH recall {recall:.2f} too low vs brute force"


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    embs = read_testdata(spark, sf_dir, "embeddings")
    queries = embs.where("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embs, queries, k=5).collect()
    }
    approx = ivf_topk(embs, queries, k=5, n_centroids=16, n_probe=4, iters=2)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"
    # every query produced k candidates (probing did not empty any cell)
    import collections

    per_q = collections.Counter(q for q, _ in got)
    assert all(v == 5 for v in per_q.values())


def test_unigram_train_counts_cover_corpus(spark):
    # the Viterbi-EM unigram trainer (r9): every word type is covered
    # exactly once by its segmentation, so the character mass of the
    # counted pieces must equal the corpus character mass — and the
    # high-frequency subwords must surface as whole pieces
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import unigram_train

    text1 = "the cat the cat thecat"
    text2 = "the mat the mat themat"
    df = spark.createDataFrame([(text1,), (text2,)], ["text"])
    rows = unigram_train(df).collect()
    mass = sum(r.piece_count * len(r.piece) for r in rows)
    words = (text1 + " " + text2).split()
    assert mass == sum(len(w) for w in words)
    pieces = {r.piece: r.piece_count for r in rows}
    # 'the' occurs 4x standalone + inside thecat/themat; the EM must
    # keep it a single piece (it dominates the seed statistics)
    assert pieces.get("the", 0) >= 4
    # every counted piece is an actual substring of some corpus word
    assert all(any(p in w for w in words) for p in pieces)
    # words longer than max_word_len are excluded from the statistics
    long_word = "x" * 20
    df2 = spark.createDataFrame([(f"{text1} {long_word}",)], ["text"])
    rows2 = unigram_train(df2).collect()
    assert not any("x" in r.piece for r in rows2)


def test_unigram_viterbi_segment_reference():
    # pure-python sanity of the DP against hand-checkable cases: the
    # (score, longest-piece) argmax and the walk
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import (
        _viterbi_segment,
    )

    probs = {"ab": 0.4, "a": 0.2, "b": 0.2, "c": 0.2}
    # 'ab' as one piece (0.4) beats 'a'+'b' (0.04); pieces come back
    # in reverse document order (the backpointer walk)
    assert list(reversed(_viterbi_segment("abc", probs, 4))) == ["ab", "c"]
    # equal-score tie prefers the longer piece: p(ab) == p(a)*p(b)
    probs2 = {"ab": 0.25, "a": 0.5, "b": 0.5}
    assert list(reversed(_viterbi_segment("ab", probs2, 4))) == ["ab"]
    # unreachable chars segment through the char fallback only if seeded
    probs3 = {"a": 1.0}
    assert _viterbi_segment("aa", probs3, 4) == ["a", "a"]


def test_unigram_encode_counts_matches_python_dp(spark):
    # the zero-UDF fold encoder must agree with the trainer's python
    # DP (same probs, same (score, longest-piece) tiebreak) on crafted
    # docs covering: multi-piece words, uncovered words (digits),
    # over-length words, and a doc with nothing covered
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import (
        DEFAULT_UNIGRAM_VOCAB,
        _viterbi_segment,
        unigram_encode_counts,
    )

    total = sum(wt for _, wt in DEFAULT_UNIGRAM_VOCAB)
    probs = {p: wt / total for p, wt in DEFAULT_UNIGRAM_VOCAB}
    docs = [
        (1, "the sparktable merge rebatch"),
        (2, "zz99 12345 the"),
        (3, "9999 ####"),
        (4, ("x" * 20) + " window at"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r for r in unigram_encode_counts(df).collect()}
    for doc_id, text in docs:
        words = text.split()
        n_cov = n_pieces = 0
        for w in words:
            if len(w) > 16:
                continue
            pieces = _viterbi_segment(w, probs, 4)
            score_pos = all(probs.get(p, 0.0) > 0.0 for p in pieces)
            if score_pos:
                n_cov += 1
                n_pieces += len(pieces)
        r = got[doc_id]
        assert r.n_words == len(words)
        assert r.n_covered == n_cov, (doc_id, r)
        assert r.n_pieces == n_pieces, (doc_id, r)
        if n_cov == 0:
            assert r.pieces_per_word is None
        else:
            assert r.pieces_per_word == round(n_pieces / n_cov, 4)


def test_ivf_served_from_stored_index_equals_in_memory(spark, sf_dir, tmp_path):
    # r9 (r8 verdict ask #6): persisting the trained index (exploded
    # centroids + cid-partitioned inverted file) and serving from the
    # read-back tables must reproduce ivf_topk exactly — the parquet
    # round-trip is bit-preserving for doubles and integer assignments
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        ivf_cell_assignments,
        ivf_topk,
        ivf_topk_served,
        train_ivf_centroids,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _ivf_index_tables,
    )

    embs = read_testdata(spark, sf_dir, "embeddings")
    queries = embs.where("vec_id < 10")
    trained = train_ivf_centroids(embs, n_centroids=8, iters=1)
    cents, index = _ivf_index_tables(
        spark, trained, ivf_cell_assignments(embs, centroids=trained), str(tmp_path / "ix")
    )
    assert cents == trained  # double round-trip through parquet is exact
    served = sorted(
        map(tuple, ivf_topk_served(embs, queries, index, centroids=cents, k=3, n_probe=2).collect())
    )
    direct = sorted(
        map(tuple, ivf_topk(embs, queries, k=3, n_probe=2, centroids=trained).collect())
    )
    assert served == direct


def test_ivf_deterministic_across_runs(spark, sf_dir):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import ivf_topk
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    embs = read_testdata(spark, sf_dir, "embeddings")
    queries = embs.where("vec_id < 10")
    a = sorted(map(tuple, ivf_topk(embs, queries, k=3, n_centroids=8, n_probe=2).collect()))
    b = sorted(map(tuple, ivf_topk(embs, queries, k=3, n_centroids=8, n_probe=2).collect()))
    assert a == b


def test_approx_sketches_error_bounds(spark, sf_dir):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    approx = {r.event_type: r for r in REGISTRY["stats_approx_sketches"].fn(spark, sf_dir).collect()}
    ev = read_testdata(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for t, a in approx.items():
        e = exact[t]
        assert abs(a.approx_users - e.users) <= max(3, 0.05 * e.users)
        assert abs(a.p50 - e.p50) <= 0.05 * max(1.0, abs(e.p50))


def test_redact_pii_patterns(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.text import redact_pii

    df = spark.createDataFrame(
        [
            ("mail me at jane.doe+x@sub.example.co.uk today",),
            ("server 192.168.001.1 port 80",),
            ("call +49 (30) 555-1234 67 now",),
            ("no pii here, just 42",),
        ],
        "t string",
    )
    got = [r.red for r in df.select(redact_pii("t").alias("red")).collect()]
    assert got[0] == "mail me at <EMAIL> today"
    assert got[1] == "server <IP> port 80"
    assert "<PHONE>" in got[2] and "555" not in got[2]
    assert got[3] == "no pii here, just 42"


def test_multimodal_resize_and_audio_shapes(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import (
        extract_audio_features,
        resize_images,
        sample_video_frames,
    )

    df = spark.createDataFrame(
        [(1, b"abcdef" * 10), (2, b"x"), (3, None)], "doc_id long, payload binary"
    )
    resized = resize_images(df, 4, 3).collect()
    assert all(len(r.payload) == 12 and r.width == 4 and r.height == 3 for r in resized)

    frames = sample_video_frames(df, frame_bytes=8, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    # 60 bytes -> 8 frames -> keep 0,2,4,6 ; 1 byte -> frame 0 ; None -> frame 0
    assert by_doc[1] == [0, 2, 4, 6] and by_doc[2] == [0] and by_doc[3] == [0]

    audio = {r.doc_id: r for r in extract_audio_features(df).collect()}
    assert audio[1].n_samples == 60 and audio[1].peak_level == ord("f")
    assert audio[3].n_samples == 1  # null payload -> 1 zero sample, no crash


def test_multimodal_real_decode_gates(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import (
        resize_images,
        sample_video_frames,
    )

    df = spark.createDataFrame([(1, b"ab")], "doc_id long, payload binary")
    # image resize is real now: non-image bytes fail loudly (the
    # sniffing dispatcher names the unrecognized magic bytes)
    with pytest.raises(Exception, match="BMP|unsupported image format"):
        resize_images(df, 2, 2, fake_decode=False).collect()
    # video stays honestly stubbed — keyframe sampling needs pyav/ffmpeg
    with pytest.raises(Exception, match="NotImplementedError|pyav|ffmpeg"):
        sample_video_frames(df, fake_decode=False).collect()


def test_quarantine_split_partitions_rows(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.functions.quality import (
        quarantine_split,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], "id int, price double"
    )
    valid, bad = quarantine_split(df, {"pos_price": F.col("price") > 0})
    assert [r.id for r in valid.collect()] == [1]
    got = {r.id: list(r["__violations"]) for r in bad.collect()}
    assert got == {2: ["pos_price"], 3: ["pos_price"]}  # NULL rule -> quarantined


def test_observed_metrics_piggyback_on_the_action(spark):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.functions.quality import (
        with_observed_metrics,
    )

    obs = Observation("audit")
    df = spark.range(100).observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("id").alias("id_sum")
    )
    assert df.count() == 100  # the consuming action
    assert obs.get == {"rows": 100, "id_sum": 4950}

    # the helper shape: named metrics appear in the plan without a second scan
    audited = with_observed_metrics(spark.range(10), "m", rows=F.count(F.lit(1)))
    assert audited.count() == 10


def test_hll_sketch_merge_estimates_within_error(spark, sf_dir):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    rows = {r.event_type: r.approx_users for r in REGISTRY["stats_hll_sketch_merge"].fn(spark, sf_dir).collect()}
    ev = read_testdata(spark, sf_dir, "events")
    exact_all = ev.select("user_id").distinct().count()
    # the merged sketch must estimate the GLOBAL distinct count (not the
    # sum of per-type counts, which double-counts cross-type users)
    assert abs(rows["__all__"] - exact_all) <= max(5, 0.05 * exact_all)
    assert sum(v for k, v in rows.items() if k != "__all__") > rows["__all__"]


def test_symbolic_hll_accuracy_and_merge(spark, sf_dir):
    # the md5-register HLL (llm/sketches.py) must (a) estimate within
    # the published ~1.04/sqrt(m) error (generous 4-sigma bound here),
    # (b) merge registers into the GLOBAL estimate (max-of-max, not a
    # sum of per-group estimates), and (c) keep the harmonic sum an
    # exact integer (the hash-stable sketch state)
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.sketches import (
        hll_estimate,
        hll_registers,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"], b=8)
    merged = regs.groupBy("bucket").agg(F.max("rho_max").alias("rho_max")).select(
        F.lit("__all__").alias("event_type"), "bucket", "rho_max"
    )
    out = {
        r.event_type: r
        for r in hll_estimate(regs.unionByName(merged), ["event_type"], b=8).collect()
    }
    exact_all = ev.select("user_id").distinct().count()
    rel_err = 4 * 1.04 / (256**0.5)  # 4 sigma at m=256 ~ 26%
    assert abs(out["__all__"].est - exact_all) <= max(5, rel_err * exact_all)
    exact_by_type = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for t, n in exact_by_type.items():
        assert abs(out[t].est - n) <= max(5, rel_err * n), (t, out[t].est, n)
    # merged estimate is global, not the (double-counting) per-type sum
    assert sum(r.est for t, r in out.items() if t != "__all__") > out["__all__"].est
    # sketch state is integer-exact: 256 power-of-two terms, max 2^57
    for r in out.values():
        s = int(r.harmonic_scaled)
        assert 256 <= s <= 256 * 2**57 and r.n_zero >= 0


def test_repetition_stats_run_length_mode(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # bigrams: 3x "a a" -> top count 3
            (2, "a b a b a"),        # bigrams: "a b" x2, "b a" x2 -> top 2
            (3, "x"),                # no bigrams
            (4, "p q r s"),          # all bigrams unique -> top 1
        ],
        "doc_id long, text string",
    )
    stats = repetition_stats("text")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            *[c.alias(n) for n, c in stats.items()],
        ).collect()
    }
    assert out[1].top_bigram_count == 3 and out[1].top_bigram_frac == 1.0
    assert out[1].dup_token_frac == 0.75
    assert out[2].top_bigram_count == 2 and out[2].top_bigram_frac == 0.5
    assert out[3].top_bigram_count == 0 and out[3].top_bigram_frac == 0.0
    assert out[4].top_bigram_count == 1 and out[4].dup_token_frac == 0.0


def test_contamination_counts_broadcast_overlap(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.text import contamination_counts

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "the quick brown", "quick brown fox" w/ eval
            (2, "totally novel training text here"),
            (3, "the quick brown dog"),         # shares "the quick brown"
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox runs")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in contamination_counts(train, eval_df).collect()}
    assert out[1].contaminated and out[1].n_matched_ngrams == 2
    assert not out[2].contaminated and out[2].n_matched_ngrams == 0
    assert out[3].contaminated and out[3].n_matched_ngrams == 1
    assert len(out) == 3  # every training row reported, matched or not


def test_vectorized_lsh_buckets_match_jvm_expression(spark):
    # _buckets_udf (numpy matmul per Arrow batch) is the hot path;
    # _bucket_expr (pure-JVM fold) is the reference semantics. They must
    # agree bucket-for-bucket, or the oracle replay breaks silently.
    from pyspark.sql import functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        _bucket_expr,
        _buckets_udf,
        hyperplane_tables,
    )

    tables = hyperplane_tables(n_tables=3, n_planes=4, dim=8, seed=7)
    df = spark.range(50).select(
        "id",
        F.expr(
            "transform(sequence(0, 7), j -> cast(sin(id * 13 + j) as double))"
        ).alias("v"),
    )
    jvm = df.select(
        "id", F.array(*[_bucket_expr(F.col("v"), t, i) for i, t in enumerate(tables)]).alias("b")
    )
    vec = df.select("id", _buckets_udf(tables)(F.col("v")).alias("b"))
    assert {(r.id, tuple(r.b)) for r in jvm.collect()} == {
        (r.id, tuple(r.b)) for r in vec.collect()
    }


def test_pq_encode_assigns_nearest_codes(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import pq_encode

    # 2 subspaces of width 2; each book: code0 near origin, code1 near 10s
    books = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[0.0, 0.0], [10.0, 10.0]],
    ]
    df = spark.createDataFrame(
        [
            (1, [0.1, 0.2, 9.8, 9.9]),   # -> codes [0, 1]
            (2, [9.0, 9.5, 0.3, 0.1]),   # -> codes [1, 0]
            (3, None),                    # dropped
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, codebooks=books).collect()}
    assert got == {1: [0, 1], 2: [1, 0]}


def test_pq_topk_adc_matches_manual_tables(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import pq_topk

    books = [[[0.0, 0.0], [10.0, 10.0]], [[0.0, 0.0], [10.0, 10.0]]]
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [10.0, 10.0, 10.0, 10.0]),
        (2, [0.0, 0.0, 10.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_topk(df, df.where(df.vec_id == 0), codebooks=books, k=2)
    got = [(r.neighbor_id, r.adc_dist) for r in out.collect()]
    # query 0 codes to [0,0]; ADC dist to codes of 2 ([0,1]) = 0 + 200;
    # to codes of 1 ([1,1]) = 200 + 200 — deterministic ordering
    assert got == [(2, 200.0), (1, 400.0)]


def test_pack_pq_codes_roundtrip_and_packed_adc_bitequal(spark, sf_dir):
    # (a) pack is exactly invertible for every corpus vector, including
    # code 15 in the top subspace (bit 31 — the case that forced the
    # BIGINT carrier); (b) the packed ADC serving path returns the
    # bit-identical ranking and scores of the unpacked path
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        ivf_pq_inverted_file,
        ivf_pq_packed_inverted_file,
        ivf_pq_packed_topk_adc,
        ivf_pq_topk_adc,
        pq_codebooks,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        read_testdata,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _IVF_FIXED_CENTROIDS,
    )

    books = pq_codebooks(n_subspaces=8, n_codes=16, dim=64, seed=13)
    cents = _IVF_FIXED_CENTROIDS
    embs = read_testdata(spark, sf_dir, "embeddings")
    inv = ivf_pq_inverted_file(embs, centroids=cents, codebooks=books)
    packed = ivf_pq_packed_inverted_file(embs, centroids=cents, codebooks=books)
    want = {r.vec_id: list(r.codes) for r in inv.collect()}
    got = {
        r.vec_id: [(r.packed >> (4 * j)) & 15 for j in range(8)]
        for r in packed.collect()
    }
    assert got == want

    # synthetic all-15 codes: 15 << 28 sets bit 31, the word that a
    # signed int32 cannot hold
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        pack_pq_codes,
    )

    hot = spark.createDataFrame([(0, [15] * 8)], "vec_id long, codes array<int>")
    word = hot.select(pack_pq_codes(F.col("codes")).alias("p")).head().p
    assert word == 0xFFFFFFFF and [(word >> (4 * j)) & 15 for j in range(8)] == [15] * 8

    queries = embs.where(F.col("vec_id") < 5)
    plain = ivf_pq_topk_adc(
        inv, queries, centroids=cents, codebooks=books, k=5, n_probe=2
    )
    packed_out = ivf_pq_packed_topk_adc(
        packed, queries, centroids=cents, codebooks=books, k=5, n_probe=2
    )
    key = lambda r: (r.query_id, r.neighbor_id, r.adc_dist)
    assert sorted(map(key, packed_out.collect())) == sorted(map(key, plain.collect()))


def test_subword_encoder_property_against_reference():
    # hypothesis: greedy longest-match against a brute-force reference
    # (try all vocab pieces at each position, longest then lexicographic)
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import _encoder

    alphabet = "abc"
    pieces = st.text(alphabet, min_size=1, max_size=3)

    @settings(max_examples=200, deadline=None)
    @given(
        vocab=st.lists(pieces, min_size=1, max_size=10, unique=True),
        word=st.text(alphabet + "z", max_size=12),  # 'z' exercises <unk>
    )
    def check(vocab, word):
        enc = _encoder(vocab)

        def reference(w):
            n_p = n_u = i = 0
            while i < len(w):
                cands = [p for p in vocab if w.startswith(p, i)]
                n_p += 1
                if not cands:
                    n_u += 1
                    i += 1
                else:
                    best = sorted(cands, key=lambda p: (-len(p), p))[0]
                    i += len(best)
            return n_p, n_u

        assert enc(word) == reference(word)

    check()


def test_semantic_dedup_property_against_reference(spark):
    # random small vector sets, one centroid (single cell): the min-id
    # survivor rule must match a brute-force pairwise reference
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import semantic_dedup

    vec = st.lists(
        st.floats(min_value=-1, max_value=1, allow_nan=False).map(lambda x: round(x, 3)),
        min_size=3,
        max_size=3,
    ).filter(lambda v: any(abs(x) > 1e-6 for x in v))

    @settings(max_examples=10, deadline=None)
    @given(vs=st.lists(vec, min_size=1, max_size=6))
    def check(vs):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vs)], "vec_id long, embedding array<float>"
        )
        got = {
            r.vec_id: r.kept
            for r in semantic_dedup(
                df, centroids=[[1.0, 0.0, 0.0]], threshold=0.8, max_cell_size=None
            ).collect()
        }

        def cos(a, b):
            # float32 storage first (Spark stores array<float>), like the op reads
            import struct as _s

            a = [_s.unpack("f", _s.pack("f", x))[0] for x in a]
            b = [_s.unpack("f", _s.pack("f", x))[0] for x in b]
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return round(d / (na * nb), 6)

        want = {
            i: not any(cos(vs[j], vs[i]) >= 0.8 for j in range(i))
            for i in range(len(vs))
        }
        assert got == want

    check()


def test_bpe_train_matches_reference_implementation(spark, sf_dir):
    # the distributed trainer must reproduce the classic algorithm
    # (Sennrich-style: word-type table, overlapping pair counts, greedy
    # left-to-right merge application) EXACTLY, merge for merge.
    from collections import Counter

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = bpe_train(docs, "text", num_merges=8, min_pair_count=2)

    # pure-python reference on the same corpus
    words = Counter()
    for r in docs.select("text").collect():
        for w in (r.text or "").split():
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}

    def stats():
        pairs = Counter()
        for w, seq in vocab.items():
            n = words[w]
            for i in range(len(seq) - 1):
                pairs[(seq[i], seq[i + 1])] += n
        return pairs

    expected = []
    for rank in range(8):
        pairs = stats()
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), n = best
        if n < 2:
            break
        expected.append({"rank": rank, "left": a, "right": b, "pair_count": n})
        for w, seq in vocab.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            vocab[w] = out

    assert got == expected
    assert len(got) == 8  # the corpus supports at least 8 merges
    # learned merges must compose: later merges may consume earlier
    # merge outputs (multi-char symbols) — assert that actually happened
    assert any(len(m["left"]) > 1 or len(m["right"]) > 1 for m in got)


def test_gram_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import gram_matrix

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(embs.first()["embedding"])
    cells = {(r.i, r.j): r.g for r in gram_matrix(embs, dim=dim).collect()}

    M = np.stack([np.asarray(r.embedding) for r in embs.collect()]).astype(np.float64)
    G = M.T @ M
    assert cells[(-1, -1)] == M.shape[0]
    for i in range(dim):
        assert abs(cells[(i, -1)] - M[:, i].sum()) < 1e-8
        for j in range(i, dim):
            assert abs(cells[(i, j)] - G[i, j]) < 1e-8


def test_pca_project_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import pca_project

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(embs.first()["embedding"])
    got = {r.vec_id: list(r.components) for r in
           pca_project(embs, dim=dim, k=2).collect()}

    rows = embs.select("vec_id", "embedding").collect()
    M = np.stack([np.asarray(r.embedding) for r in rows]).astype(np.float64)
    ids = [r.vec_id for r in rows]
    mean = M.mean(axis=0)
    cov = np.cov(M, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, ::-1][:, :2]
    for c in range(2):
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    P = (M - mean) @ comps
    for idx, vid in enumerate(ids):
        assert np.allclose(got[vid], P[idx], atol=1e-5), vid
    # variance along PC1 >= along PC2 (it's actually the top directions)
    proj = np.array([got[v] for v in ids])
    assert proj[:, 0].var() >= proj[:, 1].var() > 0


def test_count_min_sketch_properties(spark, sf_dir):
    # (1) est >= true for every present key (collisions only add);
    # (2) never-seen keys estimate 0 through the left-join zero read;
    # (3) sketches are LINEAR: cells(first half) merged with
    #     cells(second half) equals cells(whole) exactly.
    from pyspark.sql import functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.sketches import (
        cms_estimate,
        count_min_cells,
        merge_cms,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    depth, width = 4, 32
    cells = count_min_cells(ev, "user_id", depth=depth, width=width)
    assert cells.count() <= depth * width  # fixed-size regardless of input

    tru = {r.user_id: r.n for r in
           ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    keys = ev.select("user_id").distinct().unionByName(
        spark.createDataFrame([(10**9,)], "user_id long")  # never seen
    )
    est = {r.user_id: r.est_n for r in
           cms_estimate(cells, keys, "user_id", depth=depth, width=width).collect()}
    assert est[10**9] == 0
    assert all(est[k] >= n for k, n in tru.items())

    half_a = count_min_cells(ev.where(F.col("event_id") % 2 == 0), "user_id",
                             depth=depth, width=width)
    half_b = count_min_cells(ev.where(F.col("event_id") % 2 == 1), "user_id",
                             depth=depth, width=width)
    merged = {(r.row, r.bucket): r.c for r in merge_cms(half_a, half_b).collect()}
    whole = {(r.row, r.bucket): r.c for r in cells.collect()}
    assert merged == whole


def test_kmv_sketch_merge_and_accuracy(spark):
    # bottom-k mergeability: merging per-slice sketches equals the
    # sketch of the whole; estimator lands within the KMV error bound
    # (~1/sqrt(k-1) relative) on a cardinality well above k
    from pyspark.sql import functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.sketches import (
        kmv_estimate,
        kmv_sketch,
        merge_kmv,
    )

    n_true, k = 5000, 64
    df = spark.range(n_true).select(F.col("id").alias("user_id"))
    whole = kmv_sketch(df, "user_id", k=k)
    halves = [
        kmv_sketch(df.where(F.col("user_id") % 2 == i), "user_id", k=k)
        for i in (0, 1)
    ]
    merged = merge_kmv(*[h.select("hashes") for h in halves], k=k)
    assert merged.collect()[0]["hashes"] == whole.collect()[0]["hashes"]

    est = kmv_estimate(whole, k=k).collect()[0]["est_distinct"]
    assert abs(est - n_true) / n_true < 0.5  # 3-4 sigma at k=64

    # exhaustive branch: below-k cardinality estimates exactly
    small = kmv_sketch(df.where(F.col("user_id") < 10), "user_id", k=k)
    assert kmv_estimate(small, k=k).collect()[0]["est_distinct"] == 10.0


def test_kmeans_lloyd_matches_numpy_reference(spark, sf_dir):
    # the distributed trainer must reproduce plain-numpy Lloyd exactly
    # under the shared determinism contract (decimal-exact means,
    # lowest-id ties, empty clusters keep their centroid)
    from decimal import Decimal

    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        kmeans_assign,
        kmeans_lloyd,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim, k, iters = 16, 3, 4
    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding[:dim]])
        for r in embs.collect()
    )
    ids = [r[0] for r in rows]
    M = np.array([r[1] for r in rows], dtype=np.float64)
    seeds = [rows[i][1] for i in range(k)]

    got = kmeans_lloyd(embs, "embedding", k=k, dim=dim, iters=iters, init=seeds)

    cents = [list(c) for c in seeds]
    for _ in range(iters):
        d = ((M[:, None, :] - np.array(cents)[None, :, :]) ** 2)
        # accumulate in dimension order to match the engines' fold
        dist = np.zeros((len(M), k))
        for i in range(dim):
            dist += d[:, :, i]
        assign = dist.argmin(axis=1)  # argmin takes the first (lowest id)
        new = []
        for c in range(k):
            members = M[assign == c]
            if len(members) == 0:
                new.append(cents[c])
            else:
                # decimal-exact per-dim sums, one double division
                sums = [
                    float(sum(Decimal(repr(x)).quantize(Decimal("1E-12")) for x in members[:, i]))
                    for i in range(dim)
                ]
                new.append([s / len(members) for s in sums])
        cents = new

    assert np.allclose(np.array(got), np.array(cents), atol=1e-9)
    # assignment serving step: every id gets a cluster in [0, k)
    asg = kmeans_assign(embs, got, "embedding")
    vals = {r.cluster for r in asg.collect()}
    assert vals <= set(range(k)) and asg.count() == len(ids)


def test_augment_images_flips_crops_and_roundtrips(spark):
    # augmentation fan-out: each image yields orig + crop + flips, every
    # payload a REAL decodable BMP whose pixels are the exact numpy
    # transform of the source; nulls pass through as a single orig row
    import numpy as np

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.codecs import (
        decode_image,
        encode_bmp,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.multimodal import (
        augment_images,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 255, size=(6, 8, 3)).astype(np.uint8)
    rows = [(1, bytearray(encode_bmp(img))), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    out = augment_images(df, ops=("hflip", "vflip"), crop=4)
    got = {(r.doc_id, r.aug): r.payload for r in out.collect()}
    assert set(got) == {
        (1, "orig"), (1, "crop4"), (1, "hflip"), (1, "vflip"), (2, "orig"),
    }
    assert got[(2, "orig")] is None
    assert np.array_equal(decode_image(bytes(got[(1, "orig")])), img)
    cropped = img[1:5, 2:6]  # center 4x4 of 6x8
    assert np.array_equal(decode_image(bytes(got[(1, "crop4")])), cropped)
    assert np.array_equal(decode_image(bytes(got[(1, "hflip")])), cropped[:, ::-1])
    assert np.array_equal(decode_image(bytes(got[(1, "vflip")])), cropped[::-1, :])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown augmentation"):
        augment_images(df, ops=("rotate",)).collect()


def test_exact_auc_matches_pairwise_probability(spark):
    # AUC == P(score_pos > score_neg) + 0.5 * P(tie), computed by brute
    # force over all (pos, neg) pairs — an independent derivation from
    # the Mann-Whitney rank-sum identity the operator (and its oracle)
    # use, including midrank tie handling.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import exact_auc

    data = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.7, 1), (0.5, 0),
        (0.5, 1), (0.5, 0), (0.3, 0), (0.2, 1), (0.1, 0),
    ]
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))

    df = spark.createDataFrame(data, "score double, y int")
    row = exact_auc(df).collect()[0]
    assert (row.n_pos, row.n_neg) == (len(pos), len(neg))
    assert abs(row.auc - round(expected, 6)) < 1e-9
    assert abs(row.gini - round(2 * expected - 1, 6)) < 1e-9


def test_exact_auc_degenerate_perfect_separation(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import exact_auc

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "score double, y int"
    )
    row = exact_auc(df).collect()[0]
    assert row.auc == 1.0 and row.gini == 1.0


def test_duplicate_spans_merges_runs_and_skips_within_doc_repeats(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import duplicate_spans

    df = spark.createDataFrame(
        [
            # docs 1+2 share tokens 1..6 ("a b c d e f") and, separately,
            # tokens 9..12 ("x y z w") — two maximal spans each, with a
            # non-shared gap in between.
            (1, "a b c d e f g1 h1 x y z w"),
            (2, "a b c d e f g2 h2 x y z w"),
            # doc 3 repeats a 4-gram WITHIN itself only — never flagged
            # (duplication is counted in distinct documents).
            (3, "p q r s p q r s"),
            # doc 4: too short for any 4-gram.
            (4, "t u v"),
        ],
        ["doc_id", "text"],
    )
    out = duplicate_spans(df, k=4, min_doc_freq=2)
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_grams)
        for r in out.collect()
    }
    # tokens 1..6 = positions 1..3 of 4-grams (3 grams); tokens 9..12 =
    # position 9 only (1 gram).
    assert rows == {
        (1, 1, 6, 6, 3),
        (1, 9, 12, 4, 1),
        (2, 1, 6, 6, 3),
        (2, 9, 12, 4, 1),
    }


def test_duplicate_spans_cross_doc_gram_flags_every_occurrence(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import duplicate_spans

    # The shared 4-gram appears twice in doc 1 (both occurrences must be
    # flagged as separate spans) and once in doc 2.
    df = spark.createDataFrame(
        [
            (1, "a b c d X a b c d"),
            (2, "a b c d"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, k=4, min_doc_freq=2).collect()
    }
    assert rows == {(1, 1, 4), (1, 6, 9), (2, 1, 4)}


def test_dsir_logratio_ranks_target_like_docs_higher(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.text import dsir_logratio

    # Target docs are pure "alpha beta"; the mixed doc shares their
    # vocabulary, the odd one out doesn't — its weight must be lowest.
    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta", True),
            (2, "alpha beta beta alpha", True),
            (3, "alpha beta gamma", False),
            (4, "omega psi chi phi", False),
        ],
        ["doc_id", "text", "is_tgt"],
    )
    out = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_logratio(df, F.col("is_tgt")).collect()
    }
    # n_feats = unigrams + bigrams = n + (n-1)
    assert out[1][0] == 7 and out[3][0] == 5 and out[4][0] == 7
    # Absolute weights skew negative on a toy corpus (the target is a
    # subset of the source, and add-1 over 64 buckets dominates tiny
    # counts) — the RANKING is the contract: pure-target vocabulary
    # above mixed, mixed above disjoint.
    assert min(out[1][1], out[2][1]) > out[3][1] > out[4][1]


def test_dsir_logratio_empty_text_rows_absent(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.text import dsir_logratio

    df = spark.createDataFrame(
        [(1, "one token stream", True), (2, None, False), (3, "   ", False)],
        ["doc_id", "text", "is_tgt"],
    )
    out = dsir_logratio(df, F.col("is_tgt")).collect()
    assert {r.doc_id for r in out} == {1}


def _winnow_reference(text: str, k: int, w: int):
    """Sequential robust winnowing: rightmost min hash per window."""
    import hashlib
    import re

    toks = re.split(r"\s+", text.strip())
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    if len(grams) < w:
        return set()
    hashes = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    sel = set()
    for j in range(len(hashes) - w + 1):
        window = hashes[j : j + w]
        m = min(window)
        # rightmost occurrence of the minimum
        p = j + max(i for i, h in enumerate(window) if h == m)
        sel.add((p + 1, m))  # 1-based gram position
    return sel


def test_winnowing_matches_sequential_reference(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs the quick brown fox"),
        (3, "aa aa aa aa aa aa aa aa aa aa"),  # all-equal hashes: tiebreak path
        (4, "too short"),  # < k+w-1 tokens: no fingerprints
        (5, None),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = winnowing_fingerprints(df, k=4, w=5).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for doc_id, text in texts:
        expect = _winnow_reference(text, 4, 5) if text else set()
        assert got.get(doc_id, set()) == expect, doc_id


def test_winnowing_shared_run_guarantee(spark):
    # any shared run of >= w+k-1 tokens must share a fingerprint
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    shared = "zeta eta theta iota kappa lambda mu nu"  # 8 tokens = w+k-1
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + shared + " delta epsilon"),
            (2, shared + " omicron pi rho sigma tau upsilon"),
        ],
        ["doc_id", "text"],
    )
    out = winnowing_fingerprints(df, k=4, w=5).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2]


def test_heavy_hitters_mg_compress_path_is_exact(spark):
    # Zipf-ish stream with far more distinct items than the capacity:
    # the per-batch compress MUST trigger, and the two-pass output must
    # still be the EXACT heavy hitters above 2n/(capacity+1)
    from collections import Counter

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.sketches import (
        heavy_hitters_mg,
    )

    stream = ["item0"] * 800  # dominant head: ~42% of the stream
    for i in range(1, 60):  # 59 more distinct >> capacity 4
        stream += [f"item{i}"] * (300 // (i + 1))  # harmonic tail
    df = spark.createDataFrame([(s,) for s in stream], ["v"])
    out = {r.item: r.cnt for r in heavy_hitters_mg(df, "v", capacity=4).collect()}
    counts = Counter(stream)
    n = len(stream)
    expect = {k: c for k, c in counts.items() if c * 5 > 2 * n}
    assert out == expect
    assert out  # non-trivial: the head of the harmonic series qualifies


def test_heavy_hitters_mg_empty_and_null_items(spark):
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.sketches import (
        heavy_hitters_mg,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("",), (None,), ("b",)], ["v"]
    )
    out = {r.item: r.cnt for r in heavy_hitters_mg(df, "v", capacity=2).collect()}
    # stream after filtering: a a a b (n=4); threshold 2*4/3 = 2.67
    assert out == {"a": 3}


# ---------------------------------------------------------------------------
# Incremental dedup served from the stored signature table (r9 verdict ask #1)
# ---------------------------------------------------------------------------


def test_incremental_served_matches_recompute_twins(spark, sf_dir):
    # the store->merge->serve path must be row-identical to the
    # recompute twin: storage is value-preserving and the historic/batch
    # doc_id sets are disjoint, so any divergence is a store/merge bug
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.registry import (
        REGISTRY,
    )

    for served, twin in [
        ("dedup_image_incremental_served", "dedup_image_incremental_pairs"),
        ("dedup_audio_incremental_served", "dedup_audio_incremental_pairs"),
        ("dedup_minhash_incremental_served", "dedup_incremental_minhash"),
    ]:
        got = sorted(map(tuple, REGISTRY[served].fn(spark, sf_dir).collect()))
        want = sorted(map(tuple, REGISTRY[twin].fn(spark, sf_dir).collect()))
        assert got == want, f"{served} diverged from {twin}"
        assert got, f"{served} produced no pairs — vacuous comparison"


def test_served_signature_store_history_zero_io(spark, sf_dir):
    # the nightly MERGE must copy-on-write ONLY the batch's ingest
    # bucket: the historic partition's manifest entries (file paths)
    # must be carried over byte-identical — at 100 TB this is the
    # difference between an incremental job and a full rewrite
    import os

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.versioned import (
        _read_manifest,
        list_versions,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _served_signature_table,
        image_dhash_signatures,
    )

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    hist = image_dhash_signatures(docs.where("doc_id % 5 != 0"))
    batch = image_dhash_signatures(docs.where("doc_id % 5 = 0"))
    snap = _served_signature_table(spark, "pytest_zero_io", hist, batch)
    import tempfile

    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sigs_pytest_zero_io_{os.getpid()}",
        "index",  # sinks/indexes.served_snapshot's table name (r12)
    )
    versions = list_versions(spark, table)
    assert len(versions) == 2, "expected exactly create + merge versions"
    m0 = _read_manifest(spark, table, versions[0])
    m1 = _read_manifest(spark, table, versions[1])
    hist_entries_0 = [e for e in m0["entries"] if e["partition"]["ingest_bucket"] == 0]
    hist_entries_1 = [e for e in m1["entries"] if e["partition"]["ingest_bucket"] == 0]
    assert hist_entries_0 == hist_entries_1, (
        "merge rewrote the historic partition — COW must touch only the batch bucket"
    )
    batch_entries_1 = [e for e in m1["entries"] if e["partition"]["ingest_bucket"] == 1]
    assert batch_entries_1, "merge did not publish the batch partition"
    # and the snapshot covers both slices exactly once
    assert snap.count() == 40
    assert snap.select("doc_id").distinct().count() == 40


def test_served_pair_plan_is_parquet_fed(spark, sf_dir):
    # serving must never re-decode payloads: after the eager store +
    # merge, the returned pair DataFrame's plan is pure parquet scans —
    # zero python stages (MapInPandas/ArrowEval) below the pair tail
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.registry import (
        REGISTRY,
    )

    for name in (
        "dedup_image_incremental_served",
        "dedup_minhash_incremental_served",
    ):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" in plan, f"{name}: serving lost its parquet scan"
        for py_node in ("MapInPandas", "ArrowEval", "BatchEvalPython"):
            assert py_node not in plan, (
                f"{name}: serving plan contains {py_node} — historic "
                "payloads are being re-decoded at query time"
            )


def test_ivf_pruned_index_read_is_candidate_complete(spark, sf_dir, tmp_path):
    # pruning the stored inverted file to the query batch's probed
    # cells must be result-identical to serving from the full index
    # (an unprobed cell's rows can never survive the cell equi-join),
    # while provably reading fewer files at the manifest
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        ivf_cell_assignments,
        ivf_probed_cells,
        ivf_topk_served,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.versioned import (
        create_versioned_table,
        read_versioned_table,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _IVF_FIXED_CENTROIDS,
        _embs,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.where("vec_id < 10")
    cents = _IVF_FIXED_CENTROIDS
    path = str(tmp_path / "cells")
    create_versioned_table(
        ivf_cell_assignments(embs, centroids=cents), path, ["cid"]
    )
    cells = ivf_probed_cells(queries, centroids=cents, n_probe=2)
    assert cells and len(cells) < len(cents), (
        "probe set should be a strict subset of cells for pruning to matter"
    )
    full = read_versioned_table(spark, path)
    pruned = read_versioned_table(spark, path, partition_filter={"cid": cells})
    assert len(pruned.inputFiles()) < len(full.inputFiles()), (
        "manifest pruning read as many files as the full index"
    )
    got = sorted(
        map(tuple, ivf_topk_served(
            embs, queries, pruned, centroids=cents, k=5, n_probe=2
        ).collect())
    )
    want = sorted(
        map(tuple, ivf_topk_served(
            embs, queries, full, centroids=cents, k=5, n_probe=2
        ).collect())
    )
    assert got == want and got


def test_unigram_train_pruned_matches_python_reference(spark):
    # the pruned trainer's whole loop (seed -> E step -> count ->
    # char floor -> rank-filter prune, twice) against an independent
    # python reference over the same corpus; also non-vacuous: the
    # prune must actually drop multi-char pieces vs the base trainer
    from collections import Counter

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.tokenizer import (
        _viterbi_segment,
        unigram_train,
        unigram_train_pruned,
    )

    texts = [
        "the cat sat on the mat",
        "the bat sat on the hat",
        "scanning the parquet table",
        "hash the partition table",
        "the value of the scan",
        "merge the batch window",
    ] * 4
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    MAXW, MAXP, SEED, ITERS, DENOM = 16, 4, 2, 2, 5

    wc: Counter = Counter()
    for t in texts:
        for w in t.strip().split():
            if w and len(w) <= MAXW:
                wc[w] += 1
    cnt: Counter = Counter()
    for w, n in wc.items():
        for l in range(1, MAXP + 1):
            for i in range(len(w) - l + 1):
                cnt[w[i : i + l]] += n
    counts = {p: c for p, c in cnt.items() if c >= SEED or len(p) == 1}
    chars = sorted(p for p in counts if len(p) == 1)
    for _ in range(ITERS):
        total = sum(counts.values())
        probs = {p: c / total for p, c in counts.items()}
        new: Counter = Counter()
        for w, n in wc.items():
            for piece in _viterbi_segment(w, probs, MAXP):
                new[piece] += n
        floored = {c: max(new.get(c, 0), 1) for c in chars}
        multi = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1),
            key=lambda t: (t[1], t[0]),
        )
        counts = {**floored, **dict(multi[len(multi) // DENOM :])}

    got = {
        r["piece"]: r["piece_count"]
        for r in unigram_train_pruned(
            df, max_word_len=MAXW, max_piece_len=MAXP, min_seed_count=SEED,
            iters=ITERS, prune_denom=DENOM,
        ).collect()
    }
    assert got == counts
    base = {r["piece"] for r in unigram_train(df, iters=ITERS).collect()}
    dropped = {p for p in base if len(p) > 1} - set(got)
    assert dropped, "prune was vacuous — no multi-char piece removed"
    # coverability floor: every seed single char is in the model, > 0
    assert all(c in got and got[c] >= 1 for c in chars)


def test_batch_restricted_pairs_equal_filtered_unrestricted_pairs(spark, sf_dir):
    # the batch hook restricts pairs INSIDE generation; the result must
    # equal the unrestricted pairs filtered to those touching the batch
    # (doc_a % 5 = 0 OR doc_b % 5 = 0) — on the bare path, the
    # signature-carrying path and the collect_set (dedup_docs) path
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
        _bucket_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        read_testdata,
    )

    def touching(rows):
        return sorted(r for r in rows if r[0] % 5 == 0 or r[1] % 5 == 0)

    def rows_of(df):
        return [
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        ]

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs, k_shingle=3, num_hashes=16).localCheckpoint(
        eager=True
    )
    batch = F.col("doc_id") % 5 == 0
    for carry_sig in (False, True):
        full = rows_of(lsh_candidate_pairs(sigs, carry_sig=carry_sig))
        got = sorted(rows_of(lsh_candidate_pairs(sigs, batch=batch, carry_sig=carry_sig)))
        assert got == touching(full) and got and len(got) < len(full), carry_sig

    rows = [
        ("b1", 1), ("b1", 2), ("b1", 2), ("b1", 5), ("b1", 10), ("b1", 3),
        ("b2", 5), ("b2", 6), ("b2", 6), ("b2", 7),
        ("b3", 11), ("b3", 12),
    ]
    buckets = spark.createDataFrame(rows, "k string, doc long")
    for distinct_pairs in (True, False):
        full = rows_of(
            _bucket_pairs(buckets, "k", distinct_pairs=distinct_pairs, dedup_docs=True)
        )
        got = sorted(
            rows_of(
                _bucket_pairs(
                    buckets,
                    "k",
                    batch=F.col("doc") % 5 == 0,
                    distinct_pairs=distinct_pairs,
                    dedup_docs=True,
                )
            )
        )
        assert got == touching(full) and got and len(got) < len(full), distinct_pairs


def test_bucket_pairs_dedup_docs_equals_upstream_distinct(spark):
    # r13 optimization: dedup_docs=True folds a caller's would-be
    # upstream .distinct() into the groupBy exchange (collect_set) —
    # must emit exactly the pairs of distinct -> default path, for both
    # the distinct-pairs and the counting (multiset) consumers
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import _bucket_pairs

    rows = [
        ("b1", 1), ("b1", 2), ("b1", 2), ("b1", 3),  # dup (b1, 2)
        ("b2", 2), ("b2", 3), ("b2", 3),             # dup (b2, 3)
        ("b3", 5), ("b3", 5),                        # singleton after dedup
    ]
    df = spark.createDataFrame(rows, "k string, doc long")
    for distinct_pairs in (True, False):
        want = sorted(
            map(tuple, _bucket_pairs(
                df.distinct(), "k", distinct_pairs=distinct_pairs
            ).collect())
        )
        got = sorted(
            map(tuple, _bucket_pairs(
                df, "k", distinct_pairs=distinct_pairs, dedup_docs=True
            ).collect())
        )
        assert got == want and got, distinct_pairs


def test_hamming_verified_pairs_equal_brute_force(spark, sf_dir):
    # hamming_verified_pairs against an all-pairs Python Hamming scan of
    # the same signatures: independent of the LSH blocking, so it also
    # checks that both block widths are pigeonhole-complete — with and
    # without the batch restriction
    import random

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _docs,
        hamming_verified_pairs,
        image_dhash_signatures,
    )

    # boundary pairs for each width: max_hamming flipped bits, one per
    # block, so the pair shares exactly one block — each block position
    # in turn. The fixture's near-dups share most blocks and would not
    # notice a block the banding skipped.
    rng = random.Random(7)
    boundary, doc = [], 10_000
    for n_blocks, block_bits in ((8, 8), (4, 16)):
        for keep in range(n_blocks):
            base = other = rng.getrandbits(64)
            for blk in range(n_blocks):
                if blk != keep:
                    other ^= 1 << (64 - (blk + 1) * block_bits + rng.randrange(block_bits))
            boundary += [(doc, f"{base:016x}"), (doc + 1, f"{other:016x}")]
            doc += 2
    sigs = (
        image_dhash_signatures(_docs(spark, sf_dir).where("doc_id < 400"))
        .unionByName(spark.createDataFrame(boundary, "doc_id long, dhash string"))
        .localCheckpoint(eager=True)
    )
    local = sorted((r["doc_id"], int(r["dhash"], 16)) for r in sigs.collect())
    for restricted in (False, True):
        for bw, mh in ((2, 7), (4, 3)):
            want = sorted(
                (a, b, h)
                for i, (a, sa) in enumerate(local)
                for b, sb in local[i + 1 :]
                if (h := bin(sa ^ sb).count("1")) <= mh
                and (not restricted or a % 5 == 0 or b % 5 == 0)
            )
            got = sorted(
                map(tuple, hamming_verified_pairs(
                    sigs, "dhash", band_hex_width=bw, max_hamming=mh,
                    batch=(F.col("doc_id") % 5 == 0) if restricted else None,
                ).collect())
            )
            assert got == want and got, (restricted, bw, mh)


def test_streaming_dedup_split_invariant_and_equals_batch(spark, sf_dir, tmp_path):
    # the continuous-dedup invariant: for ANY micro-batch split, the
    # drained pairs table equals the full-corpus batch recompute (every
    # pair found exactly once, at its later side's arrival)
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.versioned import (
        read_versioned_table,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        read_testdata,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.streaming.sinks import (
        signature_dedup_batch_writer,
    )

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    want = sorted(
        map(tuple, lsh_candidate_pairs(
            minhash_signatures(docs, k_shingle=3, num_hashes=16)
        ).select("doc_a", "doc_b").collect())
    )
    for name, n_splits, mod in (("s2", 2, 2), ("s3", 3, 3)):
        write = signature_dedup_batch_writer(
            str(tmp_path / name / "sigs"), str(tmp_path / name / "pairs"),
            app_id=f"t-{name}",
        )
        for epoch in range(n_splits):
            write(docs.where(F.col("doc_id") % mod == epoch), epoch)
        got = sorted(
            map(tuple, read_versioned_table(spark, str(tmp_path / name / "pairs"))
                .select("doc_a", "doc_b").collect())
        )
        assert got == want and got, f"split {name} diverged from batch recompute"
    # replaying an epoch (crash between checkpoint and table commits)
    # must converge, not double-apply: the txn marker skips the
    # signature re-merge and the pairs re-merge admits identical rows
    write = signature_dedup_batch_writer(
        str(tmp_path / "s2" / "sigs"), str(tmp_path / "s2" / "pairs"),
        app_id="t-s2",
    )
    write(docs.where(F.col("doc_id") % 2 == 1), 1)  # replay epoch 1
    got = sorted(
        map(tuple, read_versioned_table(spark, str(tmp_path / "s2" / "pairs"))
            .select("doc_a", "doc_b").collect())
    )
    assert got == want


def test_signature_store_nightly_maintenance(spark, sf_dir, tmp_path):
    # the operational lifecycle of a continuously merged signature
    # store: nightly merges accumulate versions and small files;
    # OPTIMIZE (compact) must change layout only — identical pairs
    # served before and after — and VACUUM must reclaim superseded
    # commits while the latest version keeps reading
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.dedup import (
        lsh_candidate_pairs,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.versioned import (
        compact_versioned_table,
        list_versions,
        read_versioned_table,
        vacuum_versioned_table,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        read_testdata,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.streaming.sinks import (
        signature_dedup_batch_writer,
    )

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    sig_table = str(tmp_path / "sigs")
    write = signature_dedup_batch_writer(
        sig_table, str(tmp_path / "pairs"), app_id="t-maint"
    )
    # at production scale every merge's COW rewrite spans many tasks,
    # fragmenting the touched partition dir; at test scale AQE
    # coalesces the tiny merge to one task (= one file), so emulate
    # the big-partition layout with the same knob a real writer hits:
    # maxRecordsPerFile splitting one task's output into many files
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
    try:
        for epoch in range(3):
            write(docs.where(F.col("doc_id") % 3 == epoch), epoch)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert len(list_versions(spark, sig_table)) == 3  # create + 2 merges

    def served_pairs():
        snap = read_versioned_table(spark, sig_table)
        return sorted(
            map(tuple, lsh_candidate_pairs(
                snap.select("doc_id", "signature")
            ).collect())
        )

    before = served_pairs()
    files_before = len(read_versioned_table(spark, sig_table).inputFiles())
    assert compact_versioned_table(spark, sig_table), "nothing compacted"
    after = served_pairs()
    files_after = len(read_versioned_table(spark, sig_table).inputFiles())
    assert after == before and after, "compaction changed served pairs"
    assert files_after < files_before, "compaction did not reduce files"
    removed = vacuum_versioned_table(spark, sig_table, keep_last=1, min_age_seconds=0)
    assert removed, "vacuum reclaimed nothing"
    assert served_pairs() == before, "vacuum broke the latest version"


def test_hard_negative_mining_guards(spark):
    # anchor 0 (label 0); vec 1 = same direction, DIFFERENT label ->
    # excluded by the near-duplicate guard (an unlabeled copy must not
    # become a negative); vec 2 = same label -> excluded as a positive;
    # vecs 3/4 = true hard negatives, ranked by cosine.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [2.0, 0.0, 0.0], 1),  # cosine 1.0 with anchor: dup-guarded
        (2, [0.9, 0.4, 0.0], 0),  # same label: positive, excluded
        (3, [0.8, 0.6, 0.0], 1),  # cosine 0.8: hard negative rank 1
        (4, [0.0, 1.0, 0.0], 1),  # cosine 0.0: hard negative rank 2
    ]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negative_topk(
        embs, embs.where(F.col("vec_id") == 0), k=5, dup_threshold=0.85
    ).collect()
    assert [(r.negative_id, r.neg_rank) for r in out] == [(3, 1), (4, 2)]
    assert all(r.anchor_id == 0 and r.anchor_label == 0 for r in out)
    assert all(r.negative_label != 0 for r in out)
    assert out[0].cosine == pytest.approx(0.8, abs=1e-6)


def test_hard_negative_ivf_dominated_by_brute(spark, sf_dir):
    # the IVF miner searches a SUBSET of the brute miner's candidate
    # universe (only probed cells), so per anchor its i-th best cosine
    # can never exceed the brute miner's i-th best; both guards must
    # hold identically on its output.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        mine_hard_negatives,
        mine_hard_negatives_ivf,
    )

    brute = {}
    for r in mine_hard_negatives(spark, sf_dir).collect():
        brute.setdefault(r.anchor_id, []).append(r)
    served = {}
    for r in mine_hard_negatives_ivf(spark, sf_dir).collect():
        served.setdefault(r.anchor_id, []).append(r)
    assert served, "IVF miner returned nothing"
    for aid, rows in served.items():
        rows.sort(key=lambda r: r.neg_rank)
        for r in rows:
            assert r.negative_label != r.anchor_label
            assert r.cosine < 0.85
        b = sorted(brute[aid], key=lambda r: r.neg_rank)
        for i, r in enumerate(rows[: len(b)]):
            assert r.cosine <= b[i].cosine + 1e-9, (
                f"anchor {aid}: IVF rank {i + 1} cosine {r.cosine} beats "
                f"brute {b[i].cosine} — subset property violated"
            )


def test_contrastive_triplets_hardest_positive_and_margin(spark):
    # anchor 0 (label 0): positives are vecs 2 (cos~0.91) and 5
    # (cos~0.6) -> the HARDEST (least similar) positive is 5; negatives
    # follow mine_hard_negatives' guarded ranking; margin = pos - neg.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        contrastive_triplets,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.4, 0.0], 0),   # easy positive (high cosine)
        (5, [0.6, 0.8, 0.0], 0),   # hardest positive (low cosine)
        (1, [2.0, 0.0, 0.0], 1),   # dup-guarded (cosine 1.0)
        (3, [0.8, 0.6, 0.0], 1),   # negative rank 1
        (4, [0.0, 1.0, 0.0], 1),   # negative rank 2
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = contrastive_triplets(
        embs, embs.where(F.col("vec_id") == 0), k=5, dup_threshold=0.85
    ).collect()
    out.sort(key=lambda r: r.neg_rank)
    assert [(r.positive_id, r.negative_id) for r in out] == [(5, 3), (5, 4)]
    for r in out:
        assert r.pos_cosine == pytest.approx(0.6, abs=1e-6)
        assert r.margin == pytest.approx(round(r.pos_cosine - r.neg_cosine, 6), abs=1e-9)
    # the rank-1 negative (cos 0.8) is HARDER than the positive (0.6):
    # a negative margin, exactly the pair a margin loss trains on
    assert out[0].margin < 0 < out[1].margin


def test_multimodal_factory_stats_advance_and_pack_continuation(spark, sf_dir):
    # the nightly continuation contract (r11 verdict ask #1): the pack
    # base is a STORED stats row, the output's first survivor starts
    # exactly at it, and after the night the row has advanced by the
    # batch survivors' token total — tomorrow continues from tonight
    # without any historic recompute
    import pyspark.sql.functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.indexes import (
        IncrementalIndexStore,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        factory_multimodal_nightly,
        factory_multimodal_store_build,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    root = factory_multimodal_store_build(
        spark, docs.where("doc_id % 5 != 0"), "pytest_factory_mm"
    )
    stats = IncrementalIndexStore(
        spark, f"{root}/stats", keys=["sid"], partition_by=["sid"]
    )
    base0 = stats.serve().collect()[0]["base_tokens"]
    out = factory_multimodal_nightly(
        spark, docs.where("doc_id % 5 = 0"), root
    ).collect()
    surv = sorted(
        (r for r in out if r["is_survivor"]), key=lambda r: r["doc_id"]
    )
    assert surv, "no batch survivors — vacuous"
    assert surv[0]["start_offset"] == base0, "first survivor must start at the stored base"
    # offsets are a contiguous prefix sum over survivors in doc_id order
    off = base0
    for r in surv:
        assert r["start_offset"] == off
        off += r["n_words_main"]
    assert all(r["start_offset"] == -1 for r in out if not r["is_survivor"])
    base1 = stats.serve().collect()[0]["base_tokens"]
    assert base1 == base0 + sum(r["n_words_main"] for r in surv), (
        "stats row did not advance by the batch survivors' total"
    )
    # at least one batch doc is dropped by a NON-text modality at this
    # fixture SF — the cross-modality rule is exercised, not vacuous
    assert any(r["is_img_dup"] or r["is_aud_dup"] for r in out)


def test_trained_pq_codebooks_and_packed_pair_roundtrip(spark, sf_dir):
    # the reweighted compressed tier's building blocks (r11 verdict
    # ask #2): per-subspace k-means codebooks must be deterministic,
    # correctly shaped, and keep their init entry for empty codes; the
    # two-word packing must round-trip all 16 nibbles losslessly —
    # including code 15 in subspace 15, which is exactly the nibble
    # that would have overflowed a single signed BIGINT
    import pyspark.sql.functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        ivf_pq_inverted_file,
        normalized_embeddings,
        pq_packed_pair_inverted_file,
        train_pq_codebooks,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _IVF_FIXED_CENTROIDS,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    en = normalized_embeddings(embs)
    b1 = train_pq_codebooks(en, vec_col="u", n_subspaces=16, n_codes=16, iters=1)
    b2 = train_pq_codebooks(en, vec_col="u", n_subspaces=16, n_codes=16, iters=1)
    assert b1 == b2, "codebook training must be bit-deterministic"
    assert len(b1) == 16 and all(len(bk) == 16 for bk in b1)
    assert all(len(c) == 4 for bk in b1 for c in bk)
    # normalized inputs -> trained entries are means of round-8 u's
    assert max(abs(v) for bk in b1 for c in bk for v in c) <= 1.0

    cents = _IVF_FIXED_CENTROIDS
    codes = ivf_pq_inverted_file(
        en, vec_col="u", id_col="vec_id", centroids=cents, codebooks=b1
    )
    packed = pq_packed_pair_inverted_file(
        en, vec_col="u", id_col="vec_id", centroids=cents, codebooks=b1
    )
    unpacked = packed.select(
        "vec_id",
        F.concat(
            *[
                F.array(((F.col("packed0") / F.lit(16 ** j)).cast("long") % 16).cast("int"))
                for j in range(8)
            ],
            *[
                F.array(((F.col("packed1") / F.lit(16 ** j)).cast("long") % 16).cast("int"))
                for j in range(8)
            ],
        ).alias("codes"),
    )
    diff = (
        codes.alias("a")
        .join(unpacked.alias("b"), "vec_id")
        .where(F.col("a.codes") != F.col("b.codes"))
        .count()
    )
    assert diff == 0, "two-word pack/unpack must be lossless"
    # the top nibble is exercised somewhere in the corpus (else the
    # sign-bit regression this layout exists for is untested)
    top = codes.where(F.element_at("codes", 16) >= 8).count()
    assert top > 0, "no vector uses a high code in subspace 15 — vacuous"


def test_multimodal_content_store_nightly_maintenance(spark, sf_dir):
    # the multimodal factory's content store under the same
    # OPTIMIZE/VACUUM lifecycle the signature/PQ/BM25 stores are
    # pinned to: three nightly merges accumulate versions; OPTIMIZE
    # must be layout-only (identical nightly verdicts served before
    # and after) and VACUUM must reclaim superseded commits while the
    # latest snapshot keeps serving. Exercised THROUGH the shared
    # lifecycle module (sinks/indexes.py) — the maintenance story the
    # r12 extraction claims is one module for every index family.
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.indexes import (
        IncrementalIndexStore,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.versioned import (
        list_versions,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        factory_multimodal_nightly,
        factory_multimodal_store_build,
        hamming_verified_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    root = factory_multimodal_store_build(
        spark, docs.where("doc_id % 5 > 1"), "pytest_factory_mm_maint"
    )
    content = IncrementalIndexStore(
        spark, f"{root}/content", keys=["doc_id"], partition_by=["ingest_bucket"]
    )
    # an earlier night accumulates a version before tonight's run; its
    # near-dup verdicts come from the pairs that touch ITS docs: the
    # unrestricted pairs of the post-merge snapshot, each resolved to
    # its later arrival (the night's doc, or the larger id when both
    # are the night's)
    earlier = factory_multimodal_nightly(spark, docs.where("doc_id % 5 = 1"), root).collect()
    snap = content.serve()
    out_ids = {r.doc_id for r in earlier}

    def later_side(sig):
        pairs = hamming_verified_pairs(
            snap.where(F.col(sig).isNotNull()).select("doc_id", sig),
            sig,
            band_hex_width=4,
            max_hamming=3,
        ).collect()
        return {b if b % 5 == 1 else a for a, b, _ in pairs if 1 in (a % 5, b % 5)} & out_ids

    want_img, want_aud = later_side("dhash"), later_side("asig")
    assert want_img or want_aud, "no near-dup touches the earlier night — vacuous"
    assert {r.doc_id for r in earlier if r.is_img_dup} == want_img
    assert {r.doc_id for r in earlier if r.is_aud_dup} == want_aud
    want = sorted(
        map(
            tuple,
            factory_multimodal_nightly(
                spark, docs.where("doc_id % 5 = 0"), root
            ).collect(),
        )
    )
    assert len(list_versions(spark, content.path)) >= 3
    content.optimize()
    stats = IncrementalIndexStore(
        spark, f"{root}/stats", keys=["sid"], partition_by=["sid"]
    )
    content.vacuum(keep_last=1, min_age_seconds=0)
    stats.vacuum(keep_last=1, min_age_seconds=0)
    # the maintained store serves the identical post-merge snapshot:
    # replaying tonight from it gives bit-identical verdict rows except
    # the pack placement, whose base has legitimately advanced (each
    # nightly run adds its survivors to the stats row — the
    # continuation contract the stats-advance test pins exactly).
    got = sorted(
        map(
            tuple,
            factory_multimodal_nightly(
                spark, docs.where("doc_id % 5 = 0"), root
            ).collect(),
        )
    )
    assert want and len(got) == len(want)
    # columns: ..., is_survivor, start_offset, pack_id — the last two
    # are base-shifted; everything else must be bit-identical
    assert [g[:-2] for g in got] == [w[:-2] for w in want]


def test_ivfpq_code_table_nightly_maintenance(spark, sf_dir, tmp_path):
    # the operational lifecycle of the continuously merged PQ code
    # table (r10 verdict ask #2): nightly batch merges accumulate
    # versions and small files in the touched cells' partitions;
    # OPTIMIZE must change layout only — identical ADC top-k served
    # before and after — and VACUUM must reclaim superseded commits
    # while the latest version keeps serving
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        ivf_pq_packed_inverted_file,
        ivf_pq_packed_topk_adc,
        ivf_probed_cells,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.versioned import (
        compact_versioned_table,
        create_versioned_table,
        list_versions,
        merge_versioned_table,
        read_versioned_table,
        vacuum_versioned_table,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sources.readers import (
        read_testdata,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _IVF_FIXED_CENTROIDS,
        _PQ_BOOKS,
    )

    embs = read_testdata(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 5)
    table = str(tmp_path / "pq_cells")
    cents = _IVF_FIXED_CENTROIDS

    # three nightly arrivals; maxRecordsPerFile emulates the
    # many-files-per-partition layout a multi-task COW rewrite
    # produces at production scale (the signature-store test's trick)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
    try:
        create_versioned_table(
            ivf_pq_packed_inverted_file(
                embs.where("vec_id % 3 = 0"), centroids=cents, codebooks=_PQ_BOOKS
            ),
            table,
            ["cid"],
        )
        for epoch in (1, 2):
            merge_versioned_table(
                spark,
                table,
                ivf_pq_packed_inverted_file(
                    embs.where(f"vec_id % 3 = {epoch}"),
                    centroids=cents,
                    codebooks=_PQ_BOOKS,
                ),
                keys=["vec_id"],
                partition_by=["cid"],
            )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert len(list_versions(spark, table)) == 3  # create + 2 merges

    cells = ivf_probed_cells(queries, centroids=cents, n_probe=2)

    def served_topk():
        inv = read_versioned_table(spark, table, partition_filter={"cid": cells})
        return sorted(
            map(
                tuple,
                ivf_pq_packed_topk_adc(
                    inv, queries, centroids=cents, codebooks=_PQ_BOOKS, k=5, n_probe=2
                ).collect(),
            )
        )

    before = served_topk()
    files_before = len(read_versioned_table(spark, table).inputFiles())
    assert compact_versioned_table(spark, table), "nothing compacted"
    after = served_topk()
    files_after = len(read_versioned_table(spark, table).inputFiles())
    assert after == before and after, "compaction changed the served ADC top-k"
    assert files_after < files_before, "compaction did not reduce files"
    removed = vacuum_versioned_table(spark, table, keep_last=1, min_age_seconds=0)
    assert removed, "vacuum reclaimed nothing"
    assert served_topk() == before, "vacuum broke the latest version"


def test_reweighted_quantizer_retrain_contract(spark, sf_dir):
    # the retrained coarse quantizer (r12 verdict ask #4): the Lloyd
    # step under the serving metric must be bit-deterministic (exact
    # decimal assignment + decimal means — no float-argmax caveat),
    # keep its init entry for never-assigned cells (duplicate-centroid
    # construction: the higher cid loses every tie so no vector can
    # reach it), and produce means bounded by the normalized inputs
    import pyspark.sql.functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        normalized_embeddings,
        reweighted_lloyd_step_rows,
        train_ivf_centroids_reweighted,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    en = normalized_embeddings(embs)
    w = spark.range(1, 65).select(
        F.col("id").cast("int").alias("d"),
        # a non-uniform weighting so the metric differs from plain dot
        (F.lit(1.0) + (F.col("id") % 3).cast("double") / 10).alias("w"),
    )
    c1 = train_ivf_centroids_reweighted(en, w, n_centroids=4, iters=1)
    c2 = train_ivf_centroids_reweighted(en, w, n_centroids=4, iters=1)
    assert c1 == c2, "reweighted retrain must be bit-deterministic"
    assert len(c1) == 4 and all(len(c) == 64 for c in c1)
    # means of round-8 unit vectors stay inside the unit box
    assert max(abs(v) for c in c1 for v in c) <= 1.0

    # empty-cell retention: duplicate the first centroid — exact-equal
    # scores tie-break to the LOWER cid, so cid=1 gets no vectors and
    # must keep its init entry verbatim
    seed = [c1[0], list(c1[0]), c1[1]]
    rows = reweighted_lloyd_step_rows(en, w, centroids=seed, vec_col="u").collect()
    by = {(r["cid"], r["d"]): r["m"] for r in rows}
    kept = [by[(1, d + 1)] for d in range(64)]
    assert kept == list(c1[0]), "empty cell must keep its init entry"
    # cid 0 and cid 2 both received vectors and moved off their seeds
    assert [by[(0, d + 1)] for d in range(64)] != list(c1[0])


def test_reweighted_packed_adc_query_cells_override(spark, sf_dir):
    # the query_cells override (the retrained tier's probing hook)
    # must be pure plumbing: feeding the DEFAULT unweighted probe's
    # cells through it reproduces the default path bit-for-bit
    import pyspark.sql.functions as F

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm.similarity import (
        _assign_udf,
        ivf_pq_reweighted_packed_topk_adc,
        normalized_embeddings,
        pq_packed_pair_inverted_file,
        train_pq_codebooks,
    )
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _IVF_FIXED_CENTROIDS,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    en = normalized_embeddings(embs)
    w = spark.range(1, 65).select(
        F.col("id").cast("int").alias("d"), F.lit(1.0).alias("w")
    )
    books = train_pq_codebooks(en, vec_col="u", n_subspaces=16, n_codes=16, iters=1)
    cents = _IVF_FIXED_CENTROIDS
    inv = pq_packed_pair_inverted_file(
        en, vec_col="u", centroids=cents, codebooks=books
    ).localCheckpoint(eager=True)
    qn = en.where(F.col("vec_id") < 6)
    default = ivf_pq_reweighted_packed_topk_adc(
        inv, qn, w, centroids=cents, codebooks=books, k=5, n_probe=2
    )
    probe2 = _assign_udf(cents, 2)
    cells = qn.select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe2(F.col("u"))).alias("__cell"),
    )
    overridden = ivf_pq_reweighted_packed_topk_adc(
        inv, qn, w, centroids=cents, codebooks=books, k=5, n_probe=2,
        query_cells=cells,
    )
    assert sorted(map(tuple, default.collect())) == sorted(
        map(tuple, overridden.collect())
    )
