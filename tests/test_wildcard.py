"""Wildcard (?/* infix) and regexp (/.../) query clauses vs the oracle."""
from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def engine(spark, built_index):
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    return BM25Engine(spark, d, cache=True)


def _mk_patterns(oracle):
    """Patterns from real dictionary terms: an infix-* form, a ?-form,
    and an alternation regexp, each guaranteed some matches."""
    terms = sorted(t for t in oracle.df if len(t) >= 4)
    t = terms[0]
    star = t[:2] + "*" + t[-1]          # infix *
    qmark = "?" + t[1:]                 # leading ?
    u, v = terms[0], terms[-1]
    rex = f"/({u}|{v})/"
    return star, qmark, rex


def _parity(engine, oracle, query, msm=None):
    exp = oracle.query(query, k=10, min_should_match=msm)
    got = engine.topk(query, 10, min_should_match=msm).collect()
    assert [(r["doc_id"]) for r in got] == [d for d, _ in exp], query
    for r, (_, s) in zip(got, exp):
        assert r["score"] == pytest.approx(s, rel=1e-9), query
    return got


def test_wildcard_regexp_parity(engine, oracle_index):
    star, qmark, rex = _mk_patterns(oracle_index)
    for q in (star, qmark, rex, f"{star} {rex}", f"import {qmark}"):
        _parity(engine, oracle_index, q)
    # leading-* full-dictionary form (cap-bounded, Lucene allows it)
    t = next(t for t in sorted(oracle_index.df) if len(t) >= 5)
    _parity(engine, oracle_index, "*" + t[2:])


def test_wildcard_msm_counts_once(engine, oracle_index):
    star, _, rex = _mk_patterns(oracle_index)
    got = _parity(engine, oracle_index, f"import {rex}", msm=2)
    # msm=2 requires the literal AND the pattern clause
    assert got or oracle_index.query(f"import {rex}", k=10,
                                     min_should_match=2) == []


def test_wildcard_negation_and_tiers(engine, oracle_index):
    star, _, rex = _mk_patterns(oracle_index)
    q = f"import -{rex}"
    exp = oracle_index.query(q, k=10)
    got = engine.topk(q, 10).collect()
    assert [(r["doc_id"]) for r in got] == [d for d, _ in exp]
    # local + batch tier parity on a wildcard query
    loc = engine.topk_local(star, 10, as_pandas=True)
    bat = engine.topk_batch([star], 10).collect()
    base = engine.topk(star, 10).collect()
    assert [(d, pytest.approx(s, rel=1e-12))
            for d, s in zip(loc.doc_id, loc.score)] == \
        [(r["doc_id"], r["score"]) for r in base]
    assert [(r["doc_id"], pytest.approx(r["score"], rel=1e-12))
            for r in bat] == [(r["doc_id"], r["score"]) for r in base]


def test_wildcard_guards(engine):
    from data_prep_opensearch_spark.operators.bm25 import parse_query
    from data_prep_opensearch_spark.functions.tokenize import tokenize_simple

    # a pure trailing-* chunk stays a PREFIX stem (cheaper path)
    lits, stems, *_ = parse_query("foo*", tokenize_simple)
    from data_prep_opensearch_spark.operators.bm25 import Wildcard
    assert stems and not isinstance(stems[0], Wildcard)
    # infix forms become Wildcard stems
    _, stems2, *_ = parse_query("fo*o? /a+/", tokenize_simple)
    assert all(isinstance(s, Wildcard) for s in stems2)
    assert {s.kind for s in stems2} == {"wild", "re"}
    # an invalid regexp raises a clear error, and so do a lookahead and a
    # backreference: Python's re takes them, RE2 (the dialect the
    # engine and the DuckDB oracle match in) does not
    for q in ("/+badregex/", "/(?=a)ab/", r"/(a)\1/"):
        with pytest.raises(ValueError, match="bad pattern") as err:
            engine.topk(q, 5)
        assert err.type is ValueError  # not pyarrow's ArrowInvalid subclass


def test_wildcard_no_match_is_empty(engine):
    assert engine.topk("zz*qq?zz", 5).count() == 0
