"""Unit tests for dedup / similarity / prep / multimodal / text-analysis
operators (the training-data-pipeline surface)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_prep_opensearch_spark.functions.text import (
    canonical_url_py,
    clean_str_py,
    normalize_date_py,
    strip_html_py,
)


# ---------------------------------------------------------------------------
# text functions (reference-semantics scalar ops, SURVEY.md §2.8)
# ---------------------------------------------------------------------------

def test_clean_str():
    assert clean_str_py("a​ b  c\x00 d") == "a b c d"
    assert clean_str_py("  x   y  ") == "x y"
    assert clean_str_py(None) is None


def test_strip_html():
    assert strip_html_py("<p>Hello <b>world</b> &amp; you</p>") == "Hello world & you"


def test_canonical_url():
    assert canonical_url_py("Example.COM/Path?q=1#frag") == "https://example.com/Path?q=1"
    assert canonical_url_py("HTTP://Host/A") == "http://host/A"
    assert canonical_url_py("   ") is None


def test_normalize_date():
    assert normalize_date_py("13th Dec 1988") == "1988-12-13"
    assert normalize_date_py("03/04/2005") == "2005-04-03"  # day-first
    assert normalize_date_py("2020-05-17T23:30:00+02:00") == "2020-05-17"
    # tz-aware -> UTC calendar date crosses midnight (reference example)
    assert normalize_date_py("2024-03-01T23:30:00-02:00") == "2024-03-02"
    assert normalize_date_py("13, Dec, 1988") == "1988-12-13"  # comma tolerance
    # ISO-looking input must NOT flip under day-first parsing
    assert normalize_date_py("2026-02-10T00:00:00") == "2026-02-10"
    assert normalize_date_py("garbage") is None


# ---------------------------------------------------------------------------
# dedup operators
# ---------------------------------------------------------------------------

def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),          # near dup
        (4, "completely different content about spark and parquet"),
        (5, "spark and parquet make a completely different pairing"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    from data_prep_opensearch_spark.operators.dedup import exact_dedup

    out = {r["keeper"]: r["n_dups"] for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2          # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_finds_near_dup(spark):
    from data_prep_opensearch_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.3 <= pairs[(1, 3)] < 1.0    # near dup shares most shingles
    assert (1, 4) not in pairs


def test_minhash_lsh_catches_exact_dups(spark):
    from data_prep_opensearch_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 2) in pairs               # identical docs agree on every band
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_lsh_rejects_uneven_bands(spark):
    from data_prep_opensearch_spark.operators.dedup import minhash_lsh_pairs

    # 16 seeds do not split into 5 bands: one seed would be dropped
    with pytest.raises(ValueError, match="evenly"):
        minhash_lsh_pairs(_docs(spark), n_hashes=16, bands=5)


def test_simhash_similar_docs_close(spark):
    from data_prep_opensearch_spark.operators.dedup import simhash64

    out = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    assert out[1] == out[2]              # identical docs -> identical hash
    ham_13 = _hamming_hex(out[1], out[3])
    ham_14 = _hamming_hex(out[1], out[4])
    assert ham_13 < ham_14               # near dup closer than unrelated


def _hamming_hex(a: str, b: str) -> int:
    return bin(int(a, 16) ^ int(b, 16)).count("1")


def test_first_occurrence_dedup(spark):
    from data_prep_opensearch_spark.operators.dedup import first_occurrence_dedup

    df = spark.createDataFrame(
        [(1, "Soil"), (2, "soil"), (3, "SOIL"), (4, "water")], ["id", "kw"])
    out = {(r["id"], r["kw"]) for r in first_occurrence_dedup(df, "kw", "id").collect()}
    assert out == {(1, "Soil"), (4, "water")}  # first casing kept


# ---------------------------------------------------------------------------
# similarity / ANN
# ---------------------------------------------------------------------------

def test_brute_force_topk_exact(spark):
    from data_prep_opensearch_spark.operators.similarity import brute_force_topk

    vecs = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    vecs.append((100, [1.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    got = [r["vec_id"] for r in brute_force_topk(df, q, k=2).collect()]
    assert got[0] == 0 and got[1] == 100


def test_ann_lsh_recalls_identical(spark):
    from data_prep_opensearch_spark.operators.similarity import ann_lsh_topk

    rng = np.random.default_rng(7)
    vecs = [(i, rng.normal(size=16).tolist()) for i in range(50)]
    q = vecs[3][1]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = [r["vec_id"] for r in ann_lsh_topk(df, q, k=1, n_planes=6).collect()]
    assert got[0] == 3  # the identical vector is always in the probed buckets


def test_ivf_topk_recalls_identical(spark):
    from data_prep_opensearch_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    vecs = [(i, rng.normal(size=16).tolist()) for i in range(80)]
    q = vecs[17][1]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = [r["vec_id"] for r in ivf_topk(df, q, k=1, n_clusters=4, n_probe=1).collect()]
    # the identical vector's cluster is by definition the query's nearest
    assert got[0] == 17


def test_embedding_near_dup(spark):
    from data_prep_opensearch_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(11)
    vecs = [(i, rng.normal(size=16).tolist()) for i in range(30)]
    vecs.append((99, vecs[5][1]))  # exact clone of 5
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, threshold=0.999, n_planes=6).collect()}
    assert (5, 99) in pairs


# ---------------------------------------------------------------------------
# prep / incremental
# ---------------------------------------------------------------------------

def test_change_classification_and_counters(spark):
    from data_prep_opensearch_spark.operators.prep import (
        change_classification,
        run_counters,
    )

    prev = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "fp"])
    cur = spark.createDataFrame([(2, "b"), (3, "X"), (4, "d")], ["id", "fp"])
    out = change_classification(prev, cur, "id", "fp")
    kinds = {r["id"]: r["change_kind"] for r in out.collect()}
    assert kinds == {1: "removed", 2: "unchanged", 3: "updated", 4: "new"}
    c = run_counters(out).collect()[0]
    assert (c["seen"], c["new"], c["updated"], c["unchanged"], c["removed"]) == (4, 1, 1, 1, 1)
    # reconciliation invariant (stages/downloader/service.py:285-296)
    assert c["new"] + c["updated"] + c["unchanged"] + c["removed"] == c["seen"]


def test_carry_forward_and_skip(spark):
    from data_prep_opensearch_spark.operators.prep import carry_forward, skip_unchanged

    cur = spark.createDataFrame([(1, None), (2, "fresh")], ["id", "summary"])
    prev = spark.createDataFrame([(1, "old"), (2, "stale")], ["id", "summary"])
    out = {r["id"]: r["summary"] for r in carry_forward(cur, prev, "id", ["summary"]).collect()}
    assert out == {1: "old", 2: "fresh"}

    work = spark.createDataFrame([(1, "f1"), (2, "f2"), (3, "f3")], ["id", "fp"])
    done = spark.createDataFrame([(1, "f1"), (2, "CHANGED")], ["id", "fp"])
    left = {r["id"] for r in skip_unchanged(work, done, "id", "fp").collect()}
    assert left == {2, 3}  # 2 re-runs (fp changed), 3 is new, 1 skipped


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_feature_extraction(spark):
    from data_prep_opensearch_spark.operators.multimodal import (
        FEATURE_DIM,
        FakeCodec,
        RealCodecUnavailable,
        extract_features,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, 30)
    out = extract_features(media).collect()
    assert len(out) == 30
    for r in out:
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # normalized histogram
        assert len(r["payload_sha"]) == 64
    # determinism
    again = extract_features(synthetic_media_df(spark, 30)).collect()
    assert sorted(r["payload_sha"] for r in out) == sorted(r["payload_sha"] for r in again)
    # the real-decoder stub is explicit about being unavailable
    with pytest.raises(NotImplementedError):
        RealCodecUnavailable().decode(b"x", "image/png")
    # frame sampling stub
    frames = FakeCodec().frame_sample(b"0123456789abcdef", 4)
    assert len(frames) == 4


# ---------------------------------------------------------------------------
# analysis functions
# ---------------------------------------------------------------------------

def test_quality_and_langid(spark):
    from data_prep_opensearch_spark.functions.analysis import (
        langid_scores,
        quality_score_col,
    )

    df = spark.createDataFrame(
        [(1, "the cat and the dog went to the market and it is fine"),
         (2, "der hund und die katze, das ist nicht ein problem"),
         (3, "!!! ??? ...")],
        ["doc_id", "text"])
    q = {r["doc_id"]: r["quality"] for r in
         df.select("doc_id", quality_score_col(F.col("text")).alias("quality")).collect()}
    assert q[1] > q[3]  # punctuation soup scores lower
    langs = {r["doc_id"]: r["pred_lang"] for r in langid_scores(df, "text").collect()}
    assert langs[1] == "en" and langs[2] == "de"


def test_bm25_idf_formula():
    from data_prep_opensearch_spark.operators.bm25 import idf

    # Lucene form: ln((N - df + 0.5)/(df + 0.5) + 1)
    assert math.isclose(idf(1000, 10), math.log((1000 - 10 + 0.5) / 10.5 + 1.0))
    assert idf(10, 10) > 0  # never negative even when df == N
