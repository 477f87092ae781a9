"""Fuzzy (`term~N`) queries: Levenshtein dictionary expansion with
Lucene similarity boosts, on every tier, against the exhaustive oracle.

Reference parity target: Lucene FuzzyQuery / ES `fuzziness` — the
reference ships its records to an OpenSearch cluster whose match
queries accept exactly this operator (SURVEY.md §2 O7 family).
"""

from __future__ import annotations

import pickle

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


def _rows(df_or_pdf):
    if hasattr(df_or_pdf, "collect"):
        return [(r["doc_id"], r["score"]) for r in df_or_pdf.collect()]
    return list(df_or_pdf.itertuples(index=False, name=None))


def _assert_match(got, expected, ctx=""):
    assert [d for d, _ in got] == [d for d, _ in expected], (
        ctx, got, expected
    )
    for (gd, gs), (_, es) in zip(got, expected):
        assert abs(gs - es) <= 1e-9, (ctx, gd, gs, es)


def test_parse_fuzzy_shapes():
    """`body~N` chunks become Fuzzy stems in the prefix-stem list;
    AUTO resolves by length; ~0 collapses to a literal; negation routes
    to the neg list; >2 raises (Lucene bound)."""
    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS
    from data_prep_opensearch_spark.operators.bm25 import (
        Fuzzy,
        auto_fuzziness,
        parse_query,
    )

    tok = TOKENIZERS["simple"]
    lits, prefs, nl, npre, ph, nph = parse_query("foo~1 bar", tok)
    assert lits == ["bar"] and nl == [] and ph == [] and nph == []
    assert len(prefs) == 1 and isinstance(prefs[0], Fuzzy)
    assert str(prefs[0]) == "foo" and prefs[0].max_edits == 1

    # bare ~ = ES AUTO by stem length: <3 -> 0 (collapses), 3-5 -> 1,
    # >=6 -> 2
    assert auto_fuzziness("ab") == 0
    assert auto_fuzziness("abc") == 1
    assert auto_fuzziness("abcdef") == 2
    lits, prefs, *_ = parse_query("ab~", tok)
    assert lits == ["ab"] and prefs == []       # AUTO 0 -> literal
    _, prefs, *_ = parse_query("import~", tok)
    assert prefs[0].max_edits == 2

    # explicit ~0 is a literal; negated fuzzy goes to neg stems
    lits, prefs, nl, npre, *_ = parse_query("foo~0 -bar~1", tok)
    assert lits == ["foo"] and prefs == []
    assert len(npre) == 1 and isinstance(npre[0], Fuzzy)
    assert str(npre[0]) == "bar" and npre[0].max_edits == 1

    # out-of-range user budgets raise, as Lucene's FuzzyQuery does —
    # nothing is clamped silently
    with pytest.raises(ValueError, match=r"0\.\.2"):
        parse_query("foo~3", tok)
    with pytest.raises(ValueError, match=r"0\.\.2"):
        parse_query("-foo~5", tok)
    with pytest.raises(ValueError):
        Fuzzy("foo", 3)  # the constructor enforces the same bound

    # code tokenizer: earlier sub-tokens stay literal, last becomes the
    # fuzzy stem (same rule as prefix chunks)
    ctok = TOKENIZERS["code"]
    lits, prefs, *_ = parse_query("data.qery~1", ctok)
    assert "data" in lits and len(prefs) == 1 and str(prefs[0]) == "qery"

    # a Fuzzy stem survives pickling (mapInPandas closures)
    f2 = pickle.loads(pickle.dumps(Fuzzy("abc", 2)))
    assert isinstance(f2, Fuzzy) and str(f2) == "abc" and f2.max_edits == 2

    # non-fuzzy ~ forms fall through to plain tokenization
    lits, prefs, *_ = parse_query("a~b", tok)
    assert sorted(lits) == ["a", "b"] and prefs == []


def test_fuzzy_all_tiers_parity(spark, built_index, oracle_index):
    """Engine == oracle on every tier for fuzzy queries mixing
    distances, boosts, literals, and no-match stems."""
    from data_prep_opensearch_spark.operators.bm25 import (
        BM25Engine,
        query_topk,
    )

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    queries = [
        "needle0~1",            # exact + a spread of distance-1 terms
        "retur~1 import",       # misspelling + hot literal
        "needle0~2 sym1",       # wide net + literal
        "impot~ needle0",       # AUTO (len 5 -> 1 edit)
        "zzzzqx~1",             # no dictionary term within budget
        "needle0 needle0~1",    # literal + fuzzy sharing the exact term
    ]
    for q in queries:
        expected = oracle_index.query(q, 10)
        _assert_match(_rows(eng.topk(q, 10)), expected, f"topk:{q}")
        _assert_match(_rows(eng.topk_local(q, 10, as_pandas=True)),
                      expected, f"local:{q}")
        _assert_match(
            _rows(query_topk(spark, d, q, 10)), expected, f"cold:{q}"
        )
    batch = eng.topk_batch(queries, 10).collect()
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qi, q in enumerate(queries):
        expected = oracle_index.query(q, 10)
        _assert_match(by_q.get(qi, []), expected, f"batch:{q}")


def test_fuzzy_expansion_rule(spark, built_index, oracle_index):
    """expand_fuzzy: closest-first (then df desc, term asc), capped, and
    the capped list is a prefix of the full ranking; non-positive-boost
    candidates are dropped before the cap."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    full = eng.expand_fuzzy("needle0", 1, max_expansions=1000)
    assert full, "needle0~1 must expand"
    assert [t for t, _, dist in full if dist == 0] == ["needle0"]
    dists = [dist for _, _, dist in full]
    assert dists == sorted(dists)
    # within one distance band: df desc, term asc
    for band in set(dists):
        rows = [(df, t) for t, df, dist in full if dist == band]
        assert rows == sorted(rows, key=lambda x: (-x[0], x[1]))
    capped = eng.expand_fuzzy("needle0", 1, max_expansions=3)
    assert [t for t, _, _ in capped] == [t for t, _, _ in full[:3]]
    # boost <= 0 dropped: "if"~2 would admit 3-letter terms at distance
    # 2 whose boost is 1 - 2/min(3,2) < 0 and 2-letter terms at boost 0
    for t, _, dist in eng.expand_fuzzy("if", 2, max_expansions=1000):
        assert 1.0 - dist / min(len(t), 2) > 0, (t, dist)
    # engine expansion == oracle ranking for the same query
    expected = oracle_index.query("if~2", 10)
    _assert_match(_rows(eng.topk("if~2", 10)), expected, "if~2")


def test_fuzzy_msm_and_negation(spark, built_index, oracle_index):
    """A fuzzy clause counts ONCE toward min_should_match however many
    expansions match; `-term~N` folds its expansions into must_not —
    parity on distributed and local tiers."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    cases = [
        ("needle0~1 import", "all"),
        ("needle0~1 import sym1", 2),
        ("zzzzqx~1 import", "all"),      # unsatisfiable fuzzy clause
        ("import -needle0~1", None),     # exclusion of the expansion set
        ("-needle0~1 -import", None),    # pure-negative -> empty
    ]
    for q, msm in cases:
        expected = oracle_index.query(q, 10, min_should_match=msm)
        _assert_match(
            _rows(eng.topk(q, 10, min_should_match=msm)), expected,
            f"topk:{q}")
        _assert_match(
            _rows(eng.topk_local(q, 10, min_should_match=msm,
                                 as_pandas=True)),
            expected, f"local:{q}")
    # the negation is semantic: no doc containing any needle0~1
    # expansion survives
    excl = {t for t, _, _ in eng.expand_fuzzy("needle0", 1)}
    hits = [r["doc_id"] for r in
            eng.topk("import -needle0~1", 50).collect()]
    for t in excl:
        docs_with_t = {d_ for d_, _ in oracle_index.postings.get(t, [])}
        assert not docs_with_t & set(hits), t


def test_fuzzy_boost_weighting(spark, built_index, oracle_index):
    """The similarity boost actually changes ranking: a distance-1
    expansion outweighs a distance-2 one with comparable df, and a term
    reachable as both literal and expansion scores at weight 1.0
    (engine == oracle covers the max-weight rule)."""
    from data_prep_opensearch_spark.operators.bm25 import (
        BM25Engine,
        bm25_tf_term,
        idf,
    )

    d, meta = built_index
    eng = BM25Engine(spark, d, cache=True)
    exp = eng.expand_fuzzy("needle0", 1, max_expansions=1000)
    by_term = {t: dist for t, _, dist in exp}
    assert by_term["needle0"] == 0
    # hand-recompute the top-1 score for the single-expansion case
    q = "needle0~1"
    got = _rows(eng.topk(q, 5))
    assert got, "fuzzy query must match"
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    top_doc, top_score = got[0]
    acc = 0.0
    for t, dist in by_term.items():
        tf = oracle_index.tf[top_doc].get(t, 0)
        if not tf:
            continue
        boost = 1.0 if dist == 0 else 1.0 - dist / min(len(t), len("needle0"))
        acc += (idf(n_docs, oracle_index.df[t]) * boost) * bm25_tf_term(
            float(tf), float(oracle_index.doclen[top_doc]), avgdl
        )
    assert abs(acc - top_score) <= 1e-9


# any code point UTF-8 can carry: NUL, astral planes, U+10FFFF
_CHARS = st.characters(codec="utf-8")


@st.composite
def _stem_and_terms(draw):
    """A stem and terms around it: random text, the empty string, lone
    astral code points, and the stem after 0-3 random single-character
    edits, so the terms reach both edges of every budget's length
    window and distances on both sides of every budget."""
    stem = draw(st.text(_CHARS, max_size=6))
    edited = []
    for _ in range(draw(st.integers(0, 6))):
        t = list(stem)
        for _ in range(draw(st.integers(0, 3))):
            at = draw(st.integers(0, len(t)))
            op = draw(st.sampled_from(["insert", "delete", "substitute"]))
            if op == "insert":
                t.insert(at, draw(_CHARS))
            elif at < len(t):
                t[at:at + 1] = [] if op == "delete" else [draw(_CHARS)]
        edited.append("".join(t))
    other = draw(st.lists(
        st.text(_CHARS, max_size=8)
        | st.sampled_from(["", "\U0001f600", "\U0010ffff", "\x00"]),
        max_size=6))
    return stem, edited + other


@settings(max_examples=60, deadline=None)
@given(case=_stem_and_terms())
def test_levenshtein_matches_spark(spark, case):
    """The expansion's numpy Levenshtein equals Spark's thresholded
    ``levenshtein(term, stem, k)`` for budgets 0-2: plain edit distance
    in code points, -1 past the budget."""
    from data_prep_opensearch_spark.operators.bm25 import levenshtein

    stem, terms = case
    want = spark.createDataFrame([(t,) for t in terms], "term string").select(
        *[F.levenshtein("term", F.lit(stem), k) for k in range(3)]).collect()
    got = [levenshtein(pa.chunked_array([terms], pa.string()), stem, k)
           for k in range(3)]
    assert [tuple(int(g[i]) for g in got) for i in range(len(terms))] == \
        [tuple(r) for r in want], (stem, terms)
