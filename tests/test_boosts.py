"""Query-time boosts (`term^B`, `"phrase"^B`, `stem*^B`, `term~N^B`)."""

from __future__ import annotations


def _rows(df_or_pdf):
    if hasattr(df_or_pdf, "collect"):
        return [(r["doc_id"], r["score"]) for r in df_or_pdf.collect()]
    return list(df_or_pdf.itertuples(index=False, name=None))


def _assert_match(got, expected, ctx=""):
    assert [d for d, _ in got] == [d for d, _ in expected], (
        ctx, got, expected)
    for (gd, gs), (_, es) in zip(got, expected):
        assert abs(gs - es) <= 1e-9, (ctx, gd, gs, es)


def test_parse_boost_shapes():
    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS
    from data_prep_opensearch_spark.operators.bm25 import (
        Boosted,
        Fuzzy,
        parse_query,
    )

    tok = TOKENIZERS["simple"]
    lits, prefs, nl, npre, ph, nph = parse_query("foo^2 bar", tok)
    assert len(lits) == 2
    boosted = [t for t in lits if isinstance(t, Boosted)]
    assert len(boosted) == 1 and str(boosted[0]) == "foo"
    assert boosted[0].boost == 2.0

    # boost composes after * and ~N
    _, prefs, *_ = parse_query("sym*^2.5", tok)
    assert getattr(prefs[0], "boost", None) == 2.5
    _, prefs, *_ = parse_query("needle0~1^3", tok)
    assert isinstance(prefs[0], Fuzzy)
    assert prefs[0].max_edits == 1 and prefs[0].boost == 3.0

    # phrase boost, with and without slop
    *_, ph, _ = parse_query('"a b"^2 "c d"~1^0.5', tok)
    assert {(p.slop, p.boost) for p in ph} == {(0, 2.0), (1, 0.5)}

    # boost on a must_not chunk is stripped, not a term
    lits, _, nl, *_ = parse_query("-foo^2 bar", tok)
    assert nl == ["foo"] and lits == ["bar"]

    # non-numeric ^ falls through to plain tokenization
    lits, prefs, *_ = parse_query("a^b", tok)
    assert sorted(lits) == ["a", "b"] and prefs == []


def test_boosted_all_tiers_parity(spark, built_index, oracle_index):
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    queries = [
        "import^3 def sym1^0.5",          # literal boosts incl. <1
        "needle0^2 needle0",              # max-weight rule: 2.0 wins
        "sym1*^2 import",                 # boosted prefix clause
        "needle0~1^2 import",             # boost composes with fuzzy
        '"import def"^2 sym1',            # boosted phrase
        "import^0 def",                   # boost 0: matches, scores 0
        "import^0",                       # every match scores 0
    ]
    for q in queries:
        expected = oracle_index.query(q, 10)
        for tier, rows in (
            ("topk", eng.topk(q, 10)),
            ("wand", eng.topk(q, 10, scorer="wand")),
            ("local", eng.topk_local(q, 10, as_pandas=True)),
        ):
            _assert_match(_rows(rows), expected, f"{tier}:{q}")
    # batch tier
    batch = eng.topk_batch(queries, 10).collect()
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qi, q in enumerate(queries):
        _assert_match(by_q.get(qi, []), oracle_index.query(q, 10),
                      f"batch:{q}")


def test_boost_zero_still_counts_for_msm(spark, built_index, oracle_index):
    """`term^0` contributes nothing to the score but remains a clause:
    under AND it still gates the match set (Lucene boost-0 semantics)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    q = "needle0^0 import"
    expected = oracle_index.query(q, 10, min_should_match="all")
    got = _rows(eng.topk(q, 10, min_should_match="all"))
    _assert_match(got, expected, q)
    # every hit must actually contain needle0
    hits = {d_ for d_, _ in got}
    with_needle = {d_ for d_, _ in oracle_index.postings.get("needle0", [])}
    assert hits and hits <= with_needle
