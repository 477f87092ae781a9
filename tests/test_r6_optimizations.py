"""Focused tests for the round-6 optimization internals: the bucket
combination pair generator, capped-vs-join pair-path parity, the columnar
LSH band hashes, the columnar declarative BM25 twin, and warm-vs-cold
(cached vs uncached segments) engine parity."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = []
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long trip",
        "sphinx of black quartz judge my vow said the quick brown fox",
        "a stitch in time saves nine but the lazy dog sleeps on",
    ]
    for i in range(40):
        rows.append((i, base[i % 4] + (" extra tail tokens" if i % 8 == 0 else "")))
    # planted near-duplicates: same text, new ids
    for i in range(4):
        rows.append((100 + i, base[i]))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pair_combos_matches_itertools(spark):
    from data_prep_opensearch_spark.operators.dedup import _pair_combos

    for ks in ([], [7], [1, 2], [3, 1, 2], [5, 9, 1, 7, 3]):
        df = spark.createDataFrame([(sorted(ks),)], "ks: array<long>")
        got = sorted(
            (r["_p"]["id_a"], r["_p"]["id_b"])
            for r in df.select(
                F.explode(_pair_combos(F.col("ks"))).alias("_p")
            ).collect()
        )
        want = sorted(itertools.combinations(sorted(ks), 2))
        assert got == [tuple(p) for p in want], ks


def test_ngram_capped_path_equals_self_join(spark, docs_df):
    """With a cap no shingle exceeds, the bucket-combination path must
    produce exactly the uncapped self-join's pairs."""
    from data_prep_opensearch_spark.operators.dedup import ngram_jaccard_pairs

    capped = ngram_jaccard_pairs(docs_df, threshold=0.2, max_shingle_df=1000)
    uncapped = ngram_jaccard_pairs(docs_df, threshold=0.2, max_shingle_df=None)
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    assert a == b and len(a) >= 4  # the 4 planted clones must pair up


def test_lsh_capped_path_equals_self_join(spark, docs_df):
    from data_prep_opensearch_spark.operators.dedup import minhash_lsh_pairs

    capped = minhash_lsh_pairs(docs_df, max_bucket_size=1000)
    uncapped = minhash_lsh_pairs(docs_df, max_bucket_size=None)
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, uncapped.collect()))
    assert a == b and len(a) >= 4


def test_columnar_band_hash_matches_collect_list(spark, docs_df):
    """The per-row band-hash expression must reproduce the round-5
    explode -> groupBy -> collect_list construction exactly."""
    from data_prep_opensearch_spark.operators.dedup import (
        LSH_BANDS,
        N_MINHASH,
        minhash_signatures,
    )

    rows_per_band = N_MINHASH // LSH_BANDS
    sig = minhash_signatures(docs_df).withColumn(
        "band", (F.col("seed") / rows_per_band).cast("int")
    )
    legacy = (
        sig.groupBy("doc_id", "band")
        .agg(F.md5(F.concat_ws(",", F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("seed"), F.col("minhash")))))).alias("bh"))
    )
    want = {(r["doc_id"], r["band"]): r["bh"] for r in legacy.collect()}

    # reproduce the operator's internal columnar construction
    from data_prep_opensearch_spark.operators.dedup import shingle_rows

    sh = shingle_rows(docs_df)
    wide = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat_ws(":", F.lit(s), F.col("shingle")))).alias(f"_m{s}")
        for s in range(N_MINHASH)
    ])
    cols = []
    for b in range(LSH_BANDS):
        cols.append(
            F.md5(F.concat_ws(",", F.array_sort(F.array(*[
                F.concat_ws(":", F.lit(s), F.col(f"_m{s}"))
                for s in range(b * rows_per_band, (b + 1) * rows_per_band)
            ])))).alias(f"bh{b}")
        )
    got = {}
    for r in wide.select("doc_id", *cols).collect():
        for b in range(LSH_BANDS):
            got[(r["doc_id"], b)] = r[f"bh{b}"]
    assert got == want


def test_columnar_bm25_matches_explode_twin(spark, docs_df):
    """_bm25_dataframe's single-scan columnar plan must reproduce the
    explode -> groupBy formulation's rounded scores exactly."""
    from data_prep_opensearch_spark.operators.bm25 import B, K1
    from data_prep_opensearch_spark.plans.queries import (
        _bm25_dataframe,
        _tokens,
    )

    terms = sorted({"quick", "lazy", "jugs", "vow"})
    k = 15
    got = [(r["doc_id"], r["score"])
           for r in _bm25_dataframe(docs_df, terms, k, msm=1).collect()]

    tok = docs_df.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n"),
                   F.avg(1.0 * F.col("dl")).alias("avgdl"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    qdf = spark.createDataFrame([(t,) for t in terms], ["term"])
    want_df = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            * (F.col("tf") * (K1 + 1.0))
            / (F.col("tf") + K1 * (1.0 - B + B * (F.col("dl") / F.col("avgdl")))),
        )
        .groupBy("doc_id").agg(F.round(F.sum("c"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )
    want = [(r["doc_id"], r["score"]) for r in want_df.collect()]
    assert got == want and len(got) > 0


def test_warm_vs_cold_engine_parity(spark, tmp_path, docs_df):
    """cache=True (segments cached co-partitioned by shard) and
    cache=False (a cold scan, shuffled by shard per query) engines must
    be rank- and score-identical across clause shapes, on every
    distributed entry point: topk, topk_batch and match_scores. Both
    resolve global df with the same driver-side point read."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.index_build import build_index

    src = docs_df.select(
        F.lit("repo").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.sha2(F.col("text"), 256).substr(1, 40).alias("commit"),
        F.lit("en").alias("lang"),
        F.col("text").alias("content"),
    )
    idx = str(tmp_path / "idx")
    build_index(spark, src, idx, n_shards=2, n_groups=1)
    warm = BM25Engine(spark, idx, cache=True)
    cold = BM25Engine(spark, idx, cache=False)
    cases = [
        ("quick lazy dog", {}),
        ("quick lazy dog", {"scorer": "wand"}),
        ("quick lazy dog", {"min_should_match": "all"}),
        ("quick la*", {"max_expansions": 4}),
        ('"quick brown" dog', {}),
        ("quick -jugs", {}),
        ("qick~1 dog", {"max_expansions": 5}),
        ('"quick brown" lazy dog', {"min_should_match": 2}),
        ('lazy -"quick brown"', {}),
    ]

    def rows(df):
        return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]

    try:
        tops = {}
        for q, kw in cases:
            a = rows(warm.topk(q, 8, **kw))
            b = rows(cold.topk(q, 8, **kw))
            assert a == b, (q, kw, a, b)
            tops[(q, tuple(sorted(kw.items())))] = b
            mkw = {n: v for n, v in kw.items() if n != "scorer"}
            a = sorted(rows(warm.match_scores(q, **mkw)))
            b = sorted(rows(cold.match_scores(q, **mkw)))
            assert a == b, ("match_scores", q, kw, a, b)
        # batches: one per option set, each query checked against topk
        by_kw: dict[tuple, list[str]] = {}
        for q, kw in cases:
            by_kw.setdefault(tuple(sorted(kw.items())), []).append(q)
        for kwt, qs in by_kw.items():
            got = {}
            for eng in (warm, cold):
                out = eng.topk_batch(qs, 8, **dict(kwt)).collect()
                got[eng is warm] = [
                    sorted(((r["doc_id"], round(r["score"], 6))
                            for r in out if r["query_id"] == i),
                           key=lambda x: (-x[1], x[0]))
                    for i in range(len(qs))
                ]
            assert got[True] == got[False], ("topk_batch", qs, kwt)
            for q, b in zip(qs, got[False]):
                assert b == tops[(q, kwt)], ("batch vs topk", q, kwt)
    finally:
        warm.unpersist()
