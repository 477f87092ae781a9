"""Spark engine vs single-process oracle: rank-identical top-k, scores
within 1e-9 (SURVEY.md §5 plan #2), for BOTH scorers, on the fixed
reference query set; plus the per-row sha256 invariant and the
doclen/df reconciliation invariants (§5 plan #3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_prep_opensearch_spark.operators.bm25 import query_topk
from data_prep_opensearch_spark.operators.manifest import read_doc_stats, read_segments
from data_prep_opensearch_spark.oracle import reference_query_set


@pytest.mark.parametrize("scorer", ["wand", "dense"])
def test_topk_parity(spark, built_index, oracle_index, scorer):
    d, _ = built_index
    for q in reference_query_set():
        expected = oracle_index.query(q["query"], q["k"])
        got = [
            (r["doc_id"], r["score"])
            for r in query_topk(spark, d, q["query"], q["k"], scorer=scorer).collect()
        ]
        assert len(got) == len(expected), (q, got, expected)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gd == ed, (q, got, expected)
            assert abs(gs - es) <= 1e-9, (q, gd, gs, es)


def test_sha256_invariant(spark, built_index):
    """doc_stats.sha256 must equal sha2(content,256) of the source rows."""
    from data_prep_opensearch_spark.sources.corpus import corpus_df

    d, _ = built_index
    stats = read_doc_stats(spark, d)
    src = corpus_df(spark, 300).withColumn("src_sha", F.sha2(F.col("content"), 256))
    joined = stats.join(src, ["repo", "path", "commit"], "inner")
    assert joined.count() == 300
    assert joined.filter(F.col("sha256") != F.col("src_sha")).count() == 0


def test_doclen_and_df_reconcile(spark, built_index, oracle_index):
    """Σ tf per doc == doclen; Σ df over segments == Σ oracle df."""
    d, _ = built_index
    seg = read_segments(spark, d)
    total_df = seg.agg(F.sum("df")).collect()[0][0]
    assert total_df == sum(oracle_index.df.values())
    total_cf = seg.agg(F.sum("cf")).collect()[0][0]
    stats = read_doc_stats(spark, d)
    assert total_cf == stats.agg(F.sum("doclen")).collect()[0][0]


def test_avgdl_matches_oracle(built_index, oracle_index):
    _, meta = built_index
    assert meta["n_docs"] == oracle_index.n_docs
    assert abs(meta["avgdl"] - oracle_index.avgdl) < 1e-9


def test_empty_query(spark, built_index):
    d, _ = built_index
    assert query_topk(spark, d, "!!! ...", 10).count() == 0


def test_topk_batch_parity(spark, built_index):
    """topk_batch must return per-query results identical to topk —
    same docIDs, same scores — for the whole reference set in one job."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    qs = [q["query"] for q in reference_query_set()]
    k = 10
    batched = eng.topk_batch(qs, k).collect()
    by_q: dict[int, list] = {}
    for r in batched:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["doc_id"], r["score"])
        )
    for qi, q in enumerate(qs):
        single = [
            (r["doc_id"], r["score"]) for r in eng.topk(q, k).collect()
        ]
        got = sorted(by_q.get(qi, []), key=lambda x: (-x[1], x[0]))
        assert [d_ for d_, _ in got] == [d_ for d_, _ in single], (qi, q)
        for (gd, gs), (sd, ss) in zip(got, single):
            assert abs(gs - ss) <= 1e-12, (qi, q, gd, gs, ss)


def test_topk_batch_empty_and_mixed(spark, built_index):
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=False)
    rows = eng.topk_batch(["zzz_nonexistent_term", "import"], 5).collect()
    qids = {int(r["query_id"]) for r in rows}
    assert qids == {1}
    assert len([r for r in rows if r["query_id"] == 1]) == 5


def test_topk_local_parity(spark, built_index):
    """The driver-local latency tier must return docIDs and scores
    identical to the distributed path for every reference query, warm
    path included (second call hits the driver caches, zero jobs)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    k = 10
    for q in reference_query_set():
        dist = [(r["doc_id"], round(r["score"], 12))
                for r in eng.topk(q["query"], k).collect()]
        for _rep in range(2):  # cold fetch, then warm cache
            loc = [(r["doc_id"], round(r["score"], 12))
                   for r in eng.topk_local(q["query"], k).collect()]
            assert loc == dist, q["query"]
        pdf = eng.topk_local(q["query"], k, as_pandas=True)
        loc_pd = [(int(r.doc_id), round(float(r.score), 12))
                  for r in pdf.itertuples()]
        assert loc_pd == dist, q["query"]
    # absent-term query: empty on both paths
    assert eng.topk_local("zzz_absent_only", k).count() == 0


def test_topk_local_fallback_guard(spark, built_index):
    """A query whose posting mass exceeds the cap must fall back to the
    distributed path (and still agree, trivially)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=False)
    got = [(r["doc_id"], round(r["score"], 12))
           for r in eng.topk_local("import def", 10, max_postings=1).collect()]
    want = [(r["doc_id"], round(r["score"], 12))
            for r in eng.topk("import def", 10).collect()]
    assert got == want
    # the guard kept the local caches empty
    assert eng._local_postings == {}


def test_topk_local_parity_after_deletes(spark, tmp_root):
    """The local tier's flat-path masking of deleted docs must agree with the
    distributed scorers after deletes: same survivors, same scores, no
    deleted doc in the top-k."""
    import os

    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.incremental import delete_documents
    from data_prep_opensearch_spark.operators.index_build import (
        build_index,
        sort_segments,
    )
    from data_prep_opensearch_spark.operators.manifest import read_doc_stats
    from data_prep_opensearch_spark.sources.corpus import corpus_df
    from pyspark.sql import functions as F

    idx = os.path.join(tmp_root, "local_del_idx")
    build_index(spark, corpus_df(spark, 300), idx, n_shards=4, n_groups=1)
    sort_segments(spark, idx)
    victims = read_doc_stats(spark, idx).filter(
        F.col("doc_id") % 3 == 0).select("doc_id")
    victim_ids = {r["doc_id"] for r in victims.collect()}
    assert victim_ids
    delete_documents(spark, idx, victims)

    eng = BM25Engine(spark, idx, cache=False)
    for q in ("import def", "needle0 import", "sym1 fn3 return"):
        dist = [(r["doc_id"], round(r["score"], 12))
                for r in eng.topk(q, 10).collect()]
        loc = [(int(r.doc_id), round(float(r.score), 12))
               for r in eng.topk_local(q, 10, as_pandas=True).itertuples()]
        assert loc == dist, q
        assert not ({d for d, _ in loc} & victim_ids)


def test_topk_local_cache_eviction_keeps_current_query(spark, built_index):
    """Eviction triggered by a mixed cached/missing term set must retain
    the CURRENT query's already-cached terms (a cut that kept only the
    missing terms KeyError'd right after eviction)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=False)
    eng.LOCAL_CACHE_BYTES = 1  # every fetch overflows the budget
    a = [(int(r.doc_id), round(float(r.score), 12))
         for r in eng.topk_local("import", 10, as_pandas=True).itertuples()]
    assert a
    # 'import' is cached; 'def' is missing -> eviction path with a mix
    got = [(int(r.doc_id), round(float(r.score), 12))
           for r in eng.topk_local("import def", 10, as_pandas=True).itertuples()]
    want = [(r["doc_id"], round(r["score"], 12))
            for r in eng.topk("import def", 10).collect()]
    assert got == want
    assert set(eng._local_postings) == {"def", "import"}


def test_engine_refresh_on_mutation_without_flush(spark, tmp_root):
    """Round-4 review item: an engine held across index mutations must
    serve POST-mutation results from every tier without a manual
    unpersist. The engine keys its caches (cached seg/sidecar DataFrames,
    df dictionary, local-tier flat arrays) on a stat token of 2 commit
    artifacts (manifest.json, which every commit publishes, and
    meta.json) and reloads on change — checked here across a delete AND a
    subsequent delta add, with cache=True so the cached distributed path
    is exercised too."""
    import os

    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.incremental import (
        add_documents,
        delete_documents,
    )
    from data_prep_opensearch_spark.operators.index_build import build_index
    from data_prep_opensearch_spark.sources.corpus import corpus_df
    from pyspark.sql import functions as F

    idx = os.path.join(tmp_root, "refresh_idx")
    full = corpus_df(spark, 260)
    base = full.filter(F.xxhash64("repo", "path", "commit") % 5 != 0)
    delta = full.filter(F.xxhash64("repo", "path", "commit") % 5 == 0)
    build_index(spark, base, idx, n_shards=4, n_groups=1)

    eng = BM25Engine(spark, idx, cache=True)
    try:
        warm = [int(r.doc_id)
                for r in eng.topk_local("import def", 10, as_pandas=True).itertuples()]
        assert warm, "warm top-k must be non-empty pre-delete"

        victims = spark.createDataFrame([(d,) for d in warm], ["doc_id"])
        delete_documents(spark, idx, victims)

        # NO manual flush: the stale warm engine must mask the deletes
        # on every tier, matching a fresh engine exactly
        fresh = BM25Engine(spark, idx, cache=False)
        for q in ("import def", "sym1 fn3 return"):
            want = [(r["doc_id"], round(r["score"], 12))
                    for r in fresh.topk(q, 10).collect()]
            got_local = [(int(r.doc_id), round(float(r.score), 12))
                         for r in eng.topk_local(q, 10, as_pandas=True).itertuples()]
            got_dist = [(r["doc_id"], round(r["score"], 12))
                        for r in eng.topk(q, 10).collect()]
            assert got_local == want, q
            assert got_dist == want, q
            assert not ({d for d, _ in got_local} & set(warm))

        # a delta add through the manifest path is also picked up
        out = add_documents(spark, idx, delta)
        assert out["docs_added"] > 0
        fresh2 = BM25Engine(spark, idx, cache=False)
        for q in ("import return",):
            want = [(r["doc_id"], round(r["score"], 12))
                    for r in fresh2.topk(q, 10).collect()]
            got = [(int(r.doc_id), round(float(r.score), 12))
                   for r in eng.topk_local(q, 10, as_pandas=True).itertuples()]
            assert got == want, q
    finally:
        eng.unpersist()


# ---------------------------------------------------------------------------
# minimum-should-match / conjunctive queries
# ---------------------------------------------------------------------------

def _msm_query_set():
    """Multi-term queries chosen to exercise BOTH msm shard paths:
    needle+hot terms (pigeonhole: rare list = candidates, hot list
    probed lazily) and hot+hot terms (dense counting fallback — the
    candidate universe covers the shard)."""
    return [
        "needle0 import",          # needle + hot
        "fn3 sym7 return",         # mixed, 3 terms
        "sym1 sym2 sym4 fn9",      # 4 mid-df terms
        "import def",              # hot + hot -> dense fallback
        "class self sym10",
        "zzz_absent needle2",      # absent term counts toward n
        "needle0 needle0*",        # one term, two clauses (sole expansion)
    ]


def test_topk_msm_parity_vs_oracle(spark, built_index, oracle_index):
    """Engine min_should_match must be rank- and score-identical to the
    exhaustive oracle for every m in 2..n and for "all"."""
    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    for q in _msm_query_set():
        n = len(set(TOKENIZERS["simple"](q)))
        for msm in [*range(2, n + 1), "all"]:
            expected = oracle_index.query(q, 10, min_should_match=msm)
            got = [(r["doc_id"], r["score"])
                   for r in eng.topk(q, 10, min_should_match=msm).collect()]
            assert len(got) == len(expected), (q, msm, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (q, msm, got, expected)
                assert abs(gs - es) <= 1e-9, (q, msm, gd, gs, es)


def test_msm_default_is_or(spark, built_index):
    """msm absent / None / 0 / 1 are all plain disjunctive OR."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=False)
    base = [(r["doc_id"], round(r["score"], 12))
            for r in eng.topk("needle0 import", 10).collect()]
    for msm in (None, 0, 1):
        got = [(r["doc_id"], round(r["score"], 12))
               for r in eng.topk("needle0 import", 10,
                                 min_should_match=msm).collect()]
        assert got == base, msm


def test_msm_unsatisfiable_is_empty(spark, built_index):
    """AND with an unindexed term, or m > n, matches nothing (Lucene
    semantics: the missing clause can never be satisfied)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=False)
    assert eng.topk("zzz_absent needle2", 10,
                    min_should_match="all").count() == 0
    assert eng.topk("needle0 import", 10, min_should_match=3).count() == 0
    assert eng.topk_local("zzz_absent needle2", 10,
                          min_should_match="all").count() == 0


def test_topk_local_msm_parity(spark, built_index):
    """Driver-local tier with msm agrees with the distributed path,
    warm path included; over-cap fallback carries msm through."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    for q in _msm_query_set():
        for msm in (2, "all"):
            dist = [(r["doc_id"], round(r["score"], 12))
                    for r in eng.topk(q, 10, min_should_match=msm).collect()]
            for _rep in range(2):  # cold fetch, then warm cache
                loc = [(r["doc_id"], round(r["score"], 12))
                       for r in eng.topk_local(
                           q, 10, min_should_match=msm).collect()]
                assert loc == dist, (q, msm)
    # fallback path (cap=1 forces distributed) with msm
    got = [(r["doc_id"], round(r["score"], 12))
           for r in eng.topk_local("needle0 import", 10, max_postings=1,
                                   min_should_match=2).collect()]
    want = [(r["doc_id"], round(r["score"], 12))
            for r in eng.topk("needle0 import", 10,
                              min_should_match=2).collect()]
    assert got == want


def test_topk_batch_msm_parity(spark, built_index):
    """Batched msm queries return per-query results identical to the
    single-query path."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    qs = _msm_query_set()
    rows = eng.topk_batch(qs, 10, min_should_match=2).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["doc_id"], r["score"])
        )
    for qi, q in enumerate(qs):
        single = [(r["doc_id"], r["score"])
                  for r in eng.topk(q, 10, min_should_match=2).collect()]
        got = sorted(by_q.get(qi, []), key=lambda x: (-x[1], x[0]))
        assert [d_ for d_, _ in got] == [d_ for d_, _ in single], (qi, q)
        for (gd, gs), (sd, ss) in zip(got, single):
            assert abs(gs - ss) <= 1e-12, (qi, q, gd, gs, ss)


# ---------------------------------------------------------------------------
# prefix (trailing-*) queries
# ---------------------------------------------------------------------------

def _prefix_query_set():
    """Prefix clauses across the interesting shapes: narrow and wide
    stems, prefix+literal mixes, two prefix clauses (needle* also
    exercises the df-ranked max_expansions cap: 64 needles > 50), and
    no-match stems."""
    return [
        "needle1*",            # expands to needle1, needle10..needle19
        "sym*",
        "fn* return",          # prefix + hot literal
        "needle* sym*",        # two prefix clauses; needle* hits the cap
        "zzzz* needle0",       # no-match prefix + literal (OR: literal only)
        "zzzz*",               # no-match prefix alone -> empty
    ]


def test_topk_prefix_parity_vs_oracle(spark, built_index, oracle_index):
    """Engine prefix expansion must be rank- and score-identical to the
    exhaustive oracle on BOTH the distributed and the driver-local tier."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    for q in _prefix_query_set():
        expected = oracle_index.query(q, 10)
        for tier, rows in (
            ("topk", eng.topk(q, 10).collect()),
            ("local", eng.topk_local(q, 10).collect()),
        ):
            got = [(r["doc_id"], r["score"]) for r in rows]
            assert len(got) == len(expected), (tier, q, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (tier, q, got, expected)
                assert abs(gs - es) <= 1e-9, (tier, q, gd, gs, es)


def test_topk_batch_prefix_parity(spark, built_index, oracle_index):
    qs = _prefix_query_set()
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    rows = eng.topk_batch(qs, 10).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["doc_id"], r["score"])
        )
    for qi, q in enumerate(qs):
        expected = oracle_index.query(q, 10)
        got = sorted(by_q.get(qi, []), key=lambda x: (-x[1], x[0]))
        assert [d_ for d_, _ in got] == [d_ for d_, _ in expected], (qi, q)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert abs(gs - es) <= 1e-9, (qi, q, gd, gs, es)


def test_prefix_max_expansions_cap(spark, built_index, oracle_index):
    """A tight cap keeps only the highest-df expansions (ties to the
    lexicographically first term) — identical on engine and oracle."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    for cap in (1, 3):
        expected = oracle_index.query("sym*", 10, max_expansions=cap)
        got = [(r["doc_id"], r["score"])
               for r in eng.topk("sym*", 10, max_expansions=cap).collect()]
        assert [d_ for d_, _ in got] == [d_ for d_, _ in expected], cap
        for (gd, gs), (ed, es) in zip(got, expected):
            assert abs(gs - es) <= 1e-9, (cap, gd, gs, es)
        # the capped expansion list itself is the df-ranked head
        full = [t for t, _ in eng.expand_prefix("sym")]
        capped = [t for t, _ in eng.expand_prefix("sym", cap)]
        assert capped == full[:cap]


def test_prefix_msm_counts_clause_once(spark, built_index, oracle_index):
    """Under min_should_match a prefix clause counts ONCE however many
    of its expansions a doc matches (Lucene clause semantics): engine ==
    oracle for m-of-n mixes of literal and prefix clauses, on all tiers."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    cases = [
        ("needle0 sym*", "all"),     # literal AND any-sym
        ("needle0 fn3 sym*", 2),     # 2 of 3 clauses
        ("needle* sym*", "all"),     # two prefix clauses, both must hit
        ("zzzz* needle0", "all"),    # no-match prefix clause -> empty
    ]
    for q, msm in cases:
        expected = oracle_index.query(q, 10, min_should_match=msm)
        for tier, rows in (
            ("topk", eng.topk(q, 10, min_should_match=msm).collect()),
            ("local", eng.topk_local(q, 10, min_should_match=msm).collect()),
        ):
            got = [(r["doc_id"], r["score"]) for r in rows]
            assert len(got) == len(expected), (tier, q, msm, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (tier, q, msm, got, expected)
                assert abs(gs - es) <= 1e-9, (tier, q, msm, gd, gs, es)


def test_parse_query_shapes():
    """parse_query: trailing-* chunks become prefix stems through the
    tokenizer (a compound stem keeps its leading tokens literal);
    '-'-prefixed chunks feed the must_not sets; '*' alone and empty
    stems are dropped; quoted chunks become phrase clauses (single-token
    phrases collapse to literals); everything else tokenizes wholesale."""
    from data_prep_opensearch_spark.functions.tokenize import (
        PHRASE_TOKENIZERS,
        TOKENIZERS,
    )
    from data_prep_opensearch_spark.operators.bm25 import parse_query

    lits, prefs, nl, np_, ph, nph = parse_query("foo bar*", TOKENIZERS["simple"])
    assert lits == ["foo"] and prefs == ["bar"] and nl == [] and np_ == []
    assert ph == [] and nph == []
    lits, prefs, nl, np_, ph, nph = parse_query("data.pre* plain", TOKENIZERS["code"])
    assert prefs == ["pre"] and "data" in lits and "plain" in lits
    lits, prefs, nl, np_, ph, nph = parse_query("* foo", TOKENIZERS["simple"])
    assert lits == ["foo"] and prefs == []
    lits, prefs, nl, np_, ph, nph = parse_query("FOO*", TOKENIZERS["simple"])
    assert lits == [] and prefs == ["foo"]
    lits, prefs, nl, np_, ph, nph = parse_query("foo -bar -baz*", TOKENIZERS["simple"])
    assert lits == ["foo"] and prefs == []
    assert nl == ["bar"] and np_ == ["baz"]
    # '-' alone is not a negation marker; a negated compound under the
    # code tokenizer negates every produced token
    lits, prefs, nl, np_, ph, nph = parse_query("- -a.b* x", TOKENIZERS["code"])
    assert "x" in lits and nl == ["a"] and np_ == ["b"]


def test_parse_query_phrases():
    from data_prep_opensearch_spark.functions.tokenize import (
        PHRASE_TOKENIZERS,
        TOKENIZERS,
    )
    from data_prep_opensearch_spark.operators.bm25 import parse_query

    tok = TOKENIZERS["simple"]
    lits, prefs, nl, np_, ph, nph = parse_query('x "foo bar" -"baz qux"', tok)
    assert lits == ["x"] and ph == [["foo", "bar"]] and nph == [["baz", "qux"]]
    # single-token phrase collapses to a literal; empty phrase dropped
    lits, _, nl, _, ph, nph = parse_query('"foo" -"bar" "" y', tok)
    assert sorted(lits) == ["foo", "y"] and nl == ["bar"]
    assert ph == [] and nph == []
    # unpaired quote chars just tokenize away
    lits, _, _, _, ph, _ = parse_query('"open foo bar', tok)
    assert sorted(lits) == ["bar", "foo", "open"] and ph == []
    # phrase + prefix + must_not coexist
    lits, prefs, nl, np_, ph, nph = parse_query(
        '"quick brown" lazy* -dog', tok
    )
    assert ph == [["quick", "brown"]] and prefs == ["lazy"] and nl == ["dog"]
    # code tokenizer: phrase bodies analyze to WHOLE identifiers (no
    # sub-token injection — consecutive-position semantics)
    lits, _, _, _, ph, _ = parse_query(
        '"parseJson loadData" other', TOKENIZERS["code"],
        phrase_tok=PHRASE_TOKENIZERS["code"],
    )
    assert ph == [["parsejson", "loaddata"]]



# ---------------------------------------------------------------------------
# must_not (-term / -stem*) clauses
# ---------------------------------------------------------------------------

def _must_not_query_set():
    return [
        "needle0 -import",          # needle kept only where import absent
        "sym* -needle1*",           # prefix positives, prefix exclusion
        "import -def",              # hot positive, hot exclusion
        "needle0 -zzz_absent",      # unindexed exclusion = no-op
        "-import",                  # pure negative -> empty (no candidates)
        "needle0 needle2 -needle0", # term both positive and negative
    ]


def test_topk_must_not_parity_vs_oracle(spark, built_index, oracle_index):
    """Exclusion (must_not) is applied BEFORE top-k selection — masked
    docs are replaced by next-best, identically to the oracle, on both
    the distributed and driver-local tiers."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    for q in _must_not_query_set():
        expected = oracle_index.query(q, 10)
        for tier, rows in (
            ("topk", eng.topk(q, 10).collect()),
            ("local", eng.topk_local(q, 10).collect()),
        ):
            got = [(r["doc_id"], r["score"]) for r in rows]
            assert len(got) == len(expected), (tier, q, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (tier, q, got, expected)
                assert abs(gs - es) <= 1e-9, (tier, q, gd, gs, es)


def test_topk_batch_must_not_parity(spark, built_index, oracle_index):
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    qs = _must_not_query_set()
    rows = eng.topk_batch(qs, 10).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["doc_id"], r["score"])
        )
    for qi, q in enumerate(qs):
        expected = oracle_index.query(q, 10)
        got = sorted(by_q.get(qi, []), key=lambda x: (-x[1], x[0]))
        assert [d_ for d_, _ in got] == [d_ for d_, _ in expected], (qi, q)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert abs(gs - es) <= 1e-9, (qi, q, gd, gs, es)


def test_must_not_with_msm_parity(spark, built_index, oracle_index):
    """must_not composes with min_should_match: the clause count gates
    positives only, exclusion applies on top."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    cases = [
        ("needle0 fn3 -import", 2),
        ("needle0 sym* -def", "all"),
        ("fn3 sym7 return -class", 2),
    ]
    for q, msm in cases:
        expected = oracle_index.query(q, 10, min_should_match=msm)
        for tier, rows in (
            ("topk", eng.topk(q, 10, min_should_match=msm).collect()),
            ("local", eng.topk_local(q, 10, min_should_match=msm).collect()),
        ):
            got = [(r["doc_id"], r["score"]) for r in rows]
            assert len(got) == len(expected), (tier, q, msm, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (tier, q, msm, got, expected)
                assert abs(gs - es) <= 1e-9, (tier, q, msm, gd, gs, es)


def test_must_not_excludes_every_match(spark, built_index, oracle_index):
    """Semantic spot-check independent of the oracle implementation: no
    result of `import -def` may contain `def`."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    got = {r["doc_id"] for r in eng.topk("import -def", 50).collect()}
    assert got, "query should still match docs with import but no def"
    def_docs = {d_ for d_, _ in oracle_index.postings.get("def", [])}
    assert not (got & def_docs)
