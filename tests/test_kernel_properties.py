"""Property tests for the per-shard scoring kernels, run without Spark.

Each example draws a random one-shard corpus over a small Zipf-like
vocabulary and encodes it the way the index stores it: one row per
(term, generation) through ``encode_posting_list`` / ``encode_positions``
(with 4-posting blocks, so block-lazy decode crosses block edges), one
term split across two generations, and some docs tombstoned. A random
query — literals, a prefix group, msm, phrases with and without slop,
``-term`` and ``-"phrase"`` — is planned by the engine's own
``_query_plan`` over an in-memory dictionary, then scored by

- the per-shard loop ``_score_group`` (scorer ``auto``),
- the exhaustive ``_score_shard_dense`` kernel, on every shape,
- ``_score_shard_wand`` on OR shapes and ``_score_shard_msm`` on msm
  shapes,

and each must equal ``OracleIndex.query`` over the live docs on ranks,
with scores within 1e-9. Docs whose oracle scores lie within 1e-9 of
each other may swap ranks: float sums in a different term order can
split an exact tie by an ulp.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from data_prep_opensearch_spark.functions.tokenize import tokenize_simple
from data_prep_opensearch_spark.operators import bm25, postings
from data_prep_opensearch_spark.operators.postings import (
    encode_positions,
    encode_posting_list,
    vbyte_encode,
)
from data_prep_opensearch_spark.oracle import OracleIndex

# hot words fill most docs and rare ones few, so wand meets both its
# pruned path (a rare head over a hot tail) and its dense fallback, and
# msm both its pigeonhole path and its dense fallback
VOCAB = {"the": 30, "of": 24, "and": 18, "alpha": 4, "alps": 4, "beta": 4,
         "bet": 3, "gamma": 3, "delta": 1, "deep": 1, "omega": 1, "zeta": 1}
POOL = [w for w, n in VOCAB.items() for _ in range(n)]
RARE = ["deep", "delta", "omega", "zeta"]
WORDS = sorted(VOCAB) + ["absent"]
STEMS = ["al", "be", "de", "ga", "o", "t"]
BASE = 3000  # shard 3 of a 1000-doc shard width
K = 5


class _MemEngine(bm25.BM25Engine):
    """The engine's driver-side planner over an in-memory dictionary."""

    def __init__(self, oracle: OracleIndex) -> None:
        self.meta = {"tokenizer": "simple", "n_docs": oracle.n_docs}
        self.oracle = oracle

    def resolve_df(self, terms):
        return {t: self.oracle.df.get(t, 0) for t in terms}

    def expand_prefix(self, stem, max_expansions=None):
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        hits = sorted((-n, t) for t, n in self.oracle.df.items()
                      if t.startswith(stem))
        return [(t, -n) for n, t in hits[:cap]]


@st.composite
def shards(draw):
    docs = draw(st.lists(st.lists(st.sampled_from(POOL), max_size=20),
                         min_size=12, max_size=60))
    # two true stopwords, in every doc: their bounds shrink to nothing
    # beside a rare term's, the regime wand's pruning is built for
    texts = {BASE + i: " ".join(["the", "of"] + ws)
             for i, ws in enumerate(docs)}
    deleted = draw(st.sets(st.sampled_from(sorted(texts)), max_size=4))
    split = draw(st.sampled_from(sorted(VOCAB)))
    return texts, sorted(deleted), split


@st.composite
def queries(draw, texts: dict[int, str]):
    """(query, min_should_match) of one of four shapes: OR, a rare
    needle over hot words (OR), msm, or phrase-bearing; literals lean
    towards rare words."""
    toks = [t for t in (tokenize_simple(x) for x in texts.values())
            if len(t) >= 2]
    shape = draw(st.sampled_from(["or", "needle", "msm", "phrase"] if toks
                                 else ["or", "needle", "msm"]))
    word = st.sampled_from(RARE) | st.sampled_from(WORDS)
    n_lit = draw(st.integers(*{"or": (1, 4), "needle": (0, 0),
                               "msm": (2, 4), "phrase": (0, 2)}[shape]))
    parts = [draw(word) for _ in range(n_lit)]
    if shape == "needle":
        parts = [draw(st.sampled_from(RARE)), "the", "of"]
    elif draw(st.booleans()):
        parts.append(draw(st.sampled_from(STEMS)) + "*")
    if draw(st.booleans()):
        parts.append("-" + draw(st.sampled_from(WORDS)))
    msm = {"msm": draw(st.sampled_from([2, "all"])),
           "phrase": draw(st.sampled_from([None, 2, "all"]))}.get(shape)
    if shape != "phrase":
        return " ".join(parts), msm

    def phrase() -> str:
        # a real run of tokens, sometimes reordered, so phrases both
        # match and miss
        d = draw(st.sampled_from(toks))
        n = draw(st.integers(2, min(3, len(d))))
        i = draw(st.integers(0, len(d) - n))
        ph = draw(st.permutations(d[i:i + n])) if draw(st.booleans()) \
            else d[i:i + n]
        slop = draw(st.integers(0, 2))
        return '"' + " ".join(ph) + '"' + (f"~{slop}" if slop else "")

    neg = draw(st.booleans())
    parts.extend(phrase() for _ in range(draw(st.integers(0 if neg else 1, 2))))
    if neg:
        parts.append("-" + phrase())
    return " ".join(parts), msm


def _encode(texts: dict[int, str], deleted: list[int], split: str):
    """The shard's segment rows joined with its sidecar, as the query
    job's per-shard group sees them."""
    oracle = OracleIndex(texts)
    dl = np.array([oracle.doclen[d] for d in sorted(texts)], dtype=np.int64)
    side = {"shard": 3, "base": BASE,
            "dl_bytes": vbyte_encode(dl.astype(np.uint64)),
            "deleted": np.asarray(deleted, dtype=np.int64) if deleted else None}
    rows = []
    with mock.patch.object(postings, "BLOCK", 4):
        for term, by_doc in sorted(oracle.pos.items()):
            docs = np.array(sorted(by_doc), dtype=np.int64)
            runs = np.array_split(docs, 2) if term == split and docs.size > 1 \
                else [docs]
            for gen, d in enumerate(runs):
                tfs = np.array([len(by_doc[x]) for x in d], dtype=np.int64)
                pos = np.concatenate([by_doc[x] for x in d])
                doc_b, tf_b, meta = encode_posting_list(d, tfs, dl[d - BASE],
                                                        base=BASE)
                rows.append({
                    "term": term, "gen": gen, "df": int(d.size),
                    "doc_bytes": doc_b, "tf_bytes": tf_b,
                    "pos_bytes": encode_positions(pos, tfs),
                    "block_first": meta.first, "block_last": meta.last,
                    "block_max_tf": meta.max_tf, "block_min_dl": meta.min_dl,
                    "block_doc_off": meta.doc_off, "block_tf_off": meta.tf_off,
                    **side,
                })
    return pd.DataFrame(rows), oracle


def _assert_ranks(got: pd.DataFrame, full: list[tuple[int, float]], what):
    want = full[:K]
    ids, scores = got["doc_id"].tolist(), got["score"].tolist()
    assert len(ids) == len(want), (what, ids, want)
    np.testing.assert_allclose(scores, [s for _, s in want], rtol=0,
                               atol=1e-9, err_msg=str(what))
    score_of = dict(full)
    assert len(set(ids)) == len(ids), (what, ids)
    for i, d in enumerate(ids):
        if d != want[i][0]:
            assert d in score_of and abs(score_of[d] - scores[i]) <= 1e-9, (
                what, ids, want)


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(shard=shards(), data=st.data())
def test_kernels_match_oracle(shard, data):
    texts, deleted, split = shard
    grp, oracle = _encode(texts, deleted, split)
    q, msm = data.draw(queries(texts), label="query")
    full = [(d, s) for d, s in oracle.query(q, k=len(texts),
                                            min_should_match=msm)
            if d not in set(deleted)]
    plan = _MemEngine(oracle)._query_plan(q, "auto", msm, None, None, True)
    if plan is None:
        assert full == [], q
        return
    n, avgdl = oracle.n_docs, oracle.avgdl
    gdf = {t: oracle.df[t] for t in plan.terms}
    outs = list(bm25._score_group(grp, [plan], gdf, n, avgdl, K))
    _assert_ranks(outs[0] if outs else bm25._empty_topk(), full, ("loop", q))

    # the kernels directly: must_not docs join the tombstones
    excl = set(deleted).union(*(
        (d for d, _ in oracle.postings.get(t, [])) for t in plan.negs))
    sub = grp[grp["term"].isin(plan.terms)]
    ir = {t: bm25.idf(n, gdf[t]) for t in plan.terms}
    im = {t: w * plan.boosts.get(t, 1.0) for t, w in ir.items()}
    args = (sub, im, avgdl, K, BASE, grp["dl_bytes"].iloc[0],
            np.array(sorted(excl), dtype=np.int64))
    _assert_ranks(bm25._score_shard_dense(
        *args, msm=plan.msm, clauses=plan.clauses, phrases=plan.phrases,
        neg_phrases=plan.neg_phrases, phrase_idf=ir), full, ("dense", q))
    if plan.phrases or plan.neg_phrases:
        return
    if plan.msm == 1:
        _assert_ranks(bm25._score_shard_wand(*args), full, ("wand", q))
    else:
        _assert_ranks(bm25._score_shard_msm(
            *args, msm=plan.msm, clauses=plan.clauses), full, ("msm", q))
