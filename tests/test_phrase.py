"""Phrase (match_phrase) queries over positional postings: engine-vs-
oracle parity on every serving tier, lifecycle (incremental add, merge,
delete) preservation of positions, code-tokenizer position semantics,
and the no-positions error path.

Scoring semantics under test (bm25._evaluate docstring): a
phrase clause contributes ``(Σ idf of its terms) * tf_term(phrase_freq,
dl)`` — Lucene's PhraseQuery weighting under BM25 — counts once toward
min_should_match, and ``-"..."`` excludes its matches (must_not).
"""

from __future__ import annotations

import os

import pytest

from data_prep_opensearch_spark.functions.tokenize import tokenize_simple
from data_prep_opensearch_spark.sources.corpus import corpus_pandas


def _real_phrases():
    """Derive phrase queries from ACTUAL adjacent tokens of the shared
    300-doc corpus, so matches are guaranteed without hand-picking."""
    pdf = corpus_pandas(300)
    toks0 = tokenize_simple(pdf.content.iloc[0])
    toks7 = tokenize_simple(pdf.content.iloc[7])
    bg = f"{toks0[3]} {toks0[4]}"
    tg = f"{toks7[10]} {toks7[11]} {toks7[12]}"
    return [
        f'"{bg}"',                       # real bigram
        f'"{tg}"',                       # real trigram
        f'"{bg}" import',                # phrase OR literal
        f'"{bg}" -return',               # phrase with term exclusion
        f'-"{bg}" {toks0[3]}',           # negated phrase, positive literal
        f'"zzz_absent {toks0[4]}"',      # unsatisfiable phrase
        f'"{toks0[4]} {toks0[3]}"',      # reversed order (likely rare/absent)
        f'"{bg}" needle0',               # phrase + needle
    ]


def test_phrase_parity_all_tiers(spark, built_index, oracle_index):
    """topk / topk_local / topk_batch must all equal the positional
    oracle — rank-identical, scores within 1e-9 (oracle docs are keyed
    by engine docIDs, so tiebreaks align exactly)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    qs = _real_phrases()
    batched = eng.topk_batch(qs, 10).collect()
    by_q: dict[int, list] = {}
    for r in batched:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["doc_id"], r["score"])
        )
    any_hits = False
    for qi, q in enumerate(qs):
        expected = oracle_index.query(q, 10)
        any_hits = any_hits or bool(expected)
        got_b = sorted(by_q.get(qi, []), key=lambda x: (-x[1], x[0]))
        for tier, got in (
            ("topk", [(r["doc_id"], r["score"])
                      for r in eng.topk(q, 10).collect()]),
            ("local", [tuple(r) for r in eng.topk_local(
                q, 10, as_pandas=True).itertuples(index=False)]),
            ("batch", got_b),
        ):
            assert len(got) == len(expected), (tier, q, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (tier, q, got, expected)
                assert abs(gs - es) <= 1e-9, (tier, q, gd, gs, es)
    assert any_hits, "at least one derived phrase must match"


def test_phrase_msm_counts_phrase_as_one_clause(spark, built_index,
                                                oracle_index):
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    pdf = corpus_pandas(300)
    toks0 = tokenize_simple(pdf.content.iloc[0])
    bg = f"{toks0[3]} {toks0[4]}"
    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    for q, msm in [
        (f'"{bg}" import return', 2),
        (f'"{bg}" import', "all"),
        (f'"{bg}" needle0 sym*', 2),
    ]:
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


def test_phrase_semantic_spot_checks(spark, built_index, oracle_index):
    """Engine-independent invariants: every result of a phrase query
    contains the exact token sequence; a reversed phrase only matches
    docs that contain the reversed sequence."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    pdf = corpus_pandas(300)
    toks0 = tokenize_simple(pdf.content.iloc[0])
    a, b = toks0[3], toks0[4]
    got = [r["doc_id"] for r in eng.topk(f'"{a} {b}"', 50).collect()]
    assert got
    # reconstruct each hit's token stream through the oracle's positions
    for doc in got:
        pos_a = oracle_index.pos.get(a, {}).get(doc, [])
        pos_b = set(oracle_index.pos.get(b, {}).get(doc, []))
        assert any(p + 1 in pos_b for p in pos_a), (doc, a, b)


def test_phrase_lifecycle_add_merge_delete(spark, tmp_root):
    """Positions survive the full index lifecycle: incremental adds keep
    phrase matching across generations, merge compacts without changing
    results, apply_deletes removes a phrase hit."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.incremental import (
        add_documents,
        delete_documents,
    )
    from data_prep_opensearch_spark.operators.index_build import build_index
    from data_prep_opensearch_spark.operators.manifest import read_doc_stats
    from data_prep_opensearch_spark.operators.segment_merge import merge_segments

    texts_a = [
        "alpha beta gamma delta",
        "beta gamma alpha",
        "unrelated words only here",
    ]
    texts_b = [
        "zeta alpha beta gamma",   # new gen doc matching "alpha beta"
        "gamma beta alpha zeta",
    ]
    idx = os.path.join(tmp_root, "idx_phrase_lifecycle")
    src_a = spark.createDataFrame(
        [("r", f"a{i}", "c", "py", t) for i, t in enumerate(texts_a)],
        ["repo", "path", "commit", "lang", "content"],
    )
    build_index(spark, src_a, idx, n_shards=2, n_groups=1)
    src_b = spark.createDataFrame(
        [("r", f"b{i}", "c", "py", t) for i, t in enumerate(texts_b)],
        ["repo", "path", "commit", "lang", "content"],
    )
    add_documents(spark, idx, src_b)

    def hits(eng):
        stats = read_doc_stats(spark, idx).toPandas()
        id2p = dict(zip(stats.doc_id, stats.path))
        return sorted(
            id2p[r["doc_id"]]
            for r in eng.topk('"alpha beta" "beta gamma"', 10).collect()
        )

    eng = BM25Engine(spark, idx, cache=False)
    got = hits(eng)
    assert "a0" in got and "b0" in got and "a2" not in got
    # a1 has both "beta gamma" (0,1) and ... "alpha" at 2: no "alpha beta"
    assert "a1" in got  # matches via "beta gamma" clause (OR semantics)

    merge_segments(spark, idx)
    eng2 = BM25Engine(spark, idx, cache=False)
    assert hits(eng2) == got, "merge must not change phrase results"

    # delete the cross-generation phrase hit and vacuum
    stats = read_doc_stats(spark, idx).toPandas()
    victim = int(stats[stats.path == "b0"].doc_id.iloc[0])
    delete_documents(
        spark, idx, spark.createDataFrame([(victim,)], ["doc_id"])
    )
    merge_segments(spark, idx, apply_deletes=True)
    eng3 = BM25Engine(spark, idx, cache=False)
    got3 = hits(eng3)
    assert "b0" not in got3 and "a0" in got3


def test_phrase_code_tokenizer_positions(spark, tmp_root):
    """'code' tokenizer: identifiers are positions; sub-tokens share
    their parent's position. A whole-identifier phrase matches adjacent
    identifiers; a phrase of one identifier's sub-tokens does NOT match
    (they're at the same position, not consecutive)."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.index_build import build_index
    from data_prep_opensearch_spark.operators.manifest import read_doc_stats

    texts = [
        "parse_json loadData other",
        "loadData parse_json",
        "parsejson somewhere else",
    ]
    idx = os.path.join(tmp_root, "idx_phrase_code")
    src = spark.createDataFrame(
        [("r", f"d{i}", "c", "py", t) for i, t in enumerate(texts)],
        ["repo", "path", "commit", "lang", "content"],
    )
    build_index(spark, src, idx, n_shards=2, n_groups=1, tokenizer="code")
    eng = BM25Engine(spark, idx, cache=False)
    stats = read_doc_stats(spark, idx).toPandas()
    id2p = dict(zip(stats.doc_id, stats.path))

    got = sorted(
        id2p[r["doc_id"]]
        for r in eng.topk('"parse_json loadData"', 10).collect()
    )
    assert got == ["d0"]
    # sub-tokens of ONE identifier sit at one position: no phrase match
    assert eng.topk('"parse json"', 10).count() == 0
    # sub-token across identifiers: 'json loaddata'? json@0, loaddata@1
    got2 = sorted(
        id2p[r["doc_id"]]
        for r in eng.topk('"json loadData"', 10).collect()
    )
    assert got2 == ["d0"]


def test_phrase_requires_positions(spark, tmp_root):
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.index_build import build_index

    idx = os.path.join(tmp_root, "idx_nopos")
    src = spark.createDataFrame(
        [("r", "d0", "c", "py", "alpha beta gamma")],
        ["repo", "path", "commit", "lang", "content"],
    )
    meta = build_index(spark, src, idx, n_shards=2, n_groups=1,
                       positions=False)
    assert meta["positions"] is False
    eng = BM25Engine(spark, idx, cache=False)
    # non-phrase queries work fine on a positionless index
    assert eng.topk("alpha", 10).count() == 1
    with pytest.raises(ValueError, match="positions"):
        eng.topk('"alpha beta"', 10).count()
    with pytest.raises(ValueError, match="positions"):
        eng.topk_local('"alpha beta"', 10)


def test_parse_slop():
    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS
    from data_prep_opensearch_spark.operators.bm25 import Phrase, parse_query

    tok = TOKENIZERS["simple"]
    lits, pre, nl, npre, phs, nphs = parse_query('"a b"~2 c -"d e"~1', tok)
    assert lits == ["c"] and not pre and not nl and not npre
    assert len(phs) == 1 and isinstance(phs[0], Phrase)
    assert list(phs[0]) == ["a", "b"] and phs[0].slop == 2
    assert len(nphs) == 1 and list(nphs[0]) == ["d", "e"] and nphs[0].slop == 1
    # ~0 and no-suffix are the same exact phrase
    _, _, _, _, p0, _ = parse_query('"a b"~0', tok)
    _, _, _, _, p1, _ = parse_query('"a b"', tok)
    assert p0[0].slop == 0 == p1[0].slop
    # a Phrase survives pickling with its slop (mapInPandas closures)
    import pickle

    ph2 = pickle.loads(pickle.dumps(phs[0]))
    assert isinstance(ph2, Phrase) and list(ph2) == ["a", "b"] and ph2.slop == 2


def test_phrase_freqs_slop_kernel():
    """The greedy slop kernel agrees with brute force on random
    positional data, and slop-path(slop->huge) == bag-of-docs
    intersection while slop=0 via the greedy path == the exact path."""
    import numpy as np

    from data_prep_opensearch_spark.operators.bm25 import (
        _phrase_freqs,
        _phrase_freqs_slop,
    )

    rng = np.random.default_rng(7)

    def mk(term_docs):
        # term_docs: dict doc -> sorted positions
        docs = np.array(sorted(term_docs), dtype=np.int64)
        tfs = np.array([len(term_docs[d]) for d in docs], dtype=np.int64)
        pos = np.concatenate(
            [np.array(term_docs[d], dtype=np.int64) for d in docs]
        ) if docs.size else np.zeros(0, np.int64)
        return docs, tfs, pos

    def brute(maps, slop):
        out = {}
        cand = set(maps[0])
        for m in maps[1:]:
            cand &= set(m)
        for d in cand:
            lists = [sorted(set(m[d])) for m in maps]
            n = 0
            for p1 in lists[0]:
                # exhaustive chain search (not greedy) for ground truth
                frontier = [p1]
                for lst in lists[1:]:
                    frontier = [q for e in frontier for q in lst if q > e]
                    if not frontier:
                        break
                if frontier and min(frontier) - p1 - (len(maps) - 1) <= slop:
                    n += 1
            if n:
                out[d] = n
        return out

    for trial in range(25):
        n_terms = int(rng.integers(2, 4))
        maps = []
        for _ in range(n_terms):
            m = {}
            for d in rng.choice(40, size=rng.integers(3, 12), replace=False):
                m[int(d)] = sorted(
                    set(rng.integers(0, 30, size=rng.integers(1, 5)).tolist())
                )
            maps.append(m)
        arrays = [mk(m) for m in maps]
        for slop in (1, 2, 5):
            got_d, got_f = _phrase_freqs(arrays, slop=slop)
            exp = brute(maps, slop)
            assert dict(zip(got_d.tolist(), got_f.tolist())) == exp, (
                trial, slop, maps
            )
        # greedy path at slop large enough = ordered-chain existence
        got_d, _ = _phrase_freqs(arrays, slop=10_000)
        exp = brute(maps, 10_000)
        assert sorted(got_d.tolist()) == sorted(exp)
        # the exact (slop=0) kernel agrees with ground truth at slop=0,
        # and the greedy kernel run AT slop=0 agrees with the exact one
        e_d, e_f = _phrase_freqs(arrays)
        assert dict(zip(e_d.tolist(), e_f.tolist())) == brute(maps, 0)
        cand = arrays[0][0]
        for d, _, _ in arrays[1:]:
            cand = cand[np.isin(cand, d, assume_unique=True)]
        if cand.size:
            g_d, g_f = _phrase_freqs_slop(arrays, cand, slop=0)
            assert dict(zip(g_d.tolist(), g_f.tolist())) == brute(maps, 0)


def test_phrase_slop_parity_all_tiers(spark, built_index, oracle_index):
    """Slop queries: engine tiers == oracle, and slop strictly widens
    the exact-phrase match set."""
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine

    d, _ = built_index
    eng = BM25Engine(spark, d, cache=True)
    pdf = corpus_pandas(300)
    toks0 = tokenize_simple(pdf.content.iloc[0])
    toks7 = tokenize_simple(pdf.content.iloc[7])
    # a gap-1 pair: exact phrase can't see it, ~1 must
    gap_q = f'"{toks0[3]} {toks0[5]}"~1'
    qs = [
        gap_q,
        f'"{toks0[3]} {toks0[4]}"~2',
        f'"{toks7[10]} {toks7[12]}"~3 import',
        f'"{toks7[10]} {toks7[11]} {toks7[13]}"~2',   # trigram window
        f'-"{toks0[3]} {toks0[5]}"~1 {toks0[3]}',     # negated slop phrase
    ]
    batched = eng.topk_batch(qs, 10).collect()
    by_q: dict[int, list] = {}
    for r in batched:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["doc_id"], r["score"])
        )
    any_hits = False
    for qi, q in enumerate(qs):
        expected = oracle_index.query(q, 10)
        any_hits = any_hits or bool(expected)
        got_b = sorted(by_q.get(qi, []), key=lambda x: (-x[1], x[0]))
        for tier, got in (
            ("topk", [(r["doc_id"], r["score"])
                      for r in eng.topk(q, 10).collect()]),
            ("local", [(r["doc_id"], r["score"])
                       for r in eng.topk_local(q, 10).collect()]),
            ("batch", got_b),
        ):
            assert len(got) == len(expected), (tier, q, got, expected)
            for (gd, gs), (ed, es) in zip(got, expected):
                assert gd == ed, (tier, q, got, expected)
                assert abs(gs - es) <= 1e-9, (tier, q, gd, gs, es)
    assert any_hits
    # widening invariant: matches(exact) subset matches("~2")
    bg = f"{toks0[3]} {toks0[4]}"
    exact = {r["doc_id"] for r in eng.topk(f'"{bg}"', 300).collect()}
    slop2 = {r["doc_id"] for r in eng.topk(f'"{bg}"~2', 300).collect()}
    assert exact <= slop2 and exact
