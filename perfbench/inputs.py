"""Seeded inputs for the benchmark: the corpus doc-id window, the query
stream and the delta/delete stream. Every function here is a pure function
of its seed and arguments and imports no Spark, so the same seed gives the
same inputs in any process."""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from data_prep_opensearch_spark.sources.corpus import STOPWORDS, generate_chunk

SHAPES = ("needle", "mid", "hot", "and", "phrase", "prefix", "fuzzy", "not", "page2")
# Traffic model. These are stated assumptions, not fitted to a query log:
# - the stream runs in cycles; a cycle repeats one pool entry of each of
#   the nine shapes (Zipf draws, exponent ZIPF_S, over the entries of the
#   shape already in use, in order of first use) and holds FRESH_PER_CYCLE
#   first uses of new pool entries, so FRESH_SHARE is exact;
# - first uses take their shapes from shuffled blocks of FRESH_SHAPES.
#   page2 is left out: its untimed first page would fetch the terms, so
#   its timed second page is never cold;
# - TOPK_PER_CYCLE of a cycle's repeats also go through topk, their shapes
#   taken from shuffled blocks of all nine.
# Over BALANCED_CYCLES cycles every shape has exactly its share of repeats
# and first uses, so a run that stops at a multiple of it sends the same
# topk_local mix whatever the seed (topk shapes even out over each nine
# topk calls). FRESH_SHARE is set so that both regimes
# of the local tier's term cache show in the end-to-end metrics: the
# median call finds its terms cached, the 90th percentile call fetches
# some.
FRESH_PER_CYCLE = 2
CYCLE = len(SHAPES) + FRESH_PER_CYCLE
FRESH_SHARE = FRESH_PER_CYCLE / CYCLE
ZIPF_S = 1.0
FRESH_SHAPES = tuple(s for s in SHAPES if s != "page2")
TOPK_PER_CYCLE = 2
BALANCED_CYCLES = 4  # 8 first uses, one per FRESH_SHAPE
POOL_BAND = 30  # largest pool per shape; each shape reads its own rank band
# "class" and "self" are kept out of every pool: setup warms the engine
# with them, so warm-up leaves the pools' own terms cold
WARMUP_QUERIES = ("class self", '"class self"')
HOT_TERMS = tuple(t for t in STOPWORDS if t not in ("class", "self"))
# batch tier: topk_batch takes one min_should_match and no cursor per
# call, so the msm-all and cursor shapes go through the other tiers only
BATCH_SHAPES = frozenset(SHAPES) - {"and", "page2"}
DOC_ID_BASE = 1_000_000
DELTA_ID_BASE = 50_000_000


@dataclass(frozen=True)
class Query:
    shape: str
    text: str
    msm: str | None = None  # "all" for the `and` shape
    page2: bool = False     # second page via search_after

    @property
    def positive_terms(self) -> tuple[str, ...]:
        out = []
        for tok in self.text.replace('"', " ").split():
            if not tok.startswith("-"):
                out.append(tok)
        return tuple(out)


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def corpus_window(seed: int, n_docs: int) -> np.ndarray:
    """The doc ids handed to ``generate_chunk``: a seed-offset window."""
    start = DOC_ID_BASE + int(rng_for(seed, 1).integers(0, 10_000)) * n_docs
    return np.arange(start, start + n_docs, dtype=np.int64)


def _doc_freq(contents: pd.Series) -> Counter:
    df: Counter = Counter()
    for text in contents:
        df.update(set(text.split()))
    return df


def query_pools(corpus: pd.DataFrame, per_shape: int) -> dict[str, list[Query]]:
    """``per_shape`` distinct queries per shape, taken at fixed ranks of the
    corpus's own term, bigram and prefix statistics: the terms change with
    the corpus window, their frequencies (and so the query cost) hardly.
    Within a shape no two entries share a term (the hot shape has only
    seven disjoint pairs), so the first use of an entry is a cold fetch."""
    if per_shape > POOL_BAND:
        raise ValueError(f"per_shape {per_shape} > {POOL_BAND}")
    df = _doc_freq(corpus["content"])
    stop = set(STOPWORDS)
    by_df = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    ranked = [t for t, _ in by_df if t not in stop and not t.startswith("needle")]
    # planted needles first, then the rarest terms: selective lookups
    needles = [t for t, _ in by_df if t.startswith("needle")]
    needles += [t for t, _ in reversed(by_df) if t not in stop and not t.startswith("needle")]
    top = set(ranked[:200])
    bigrams: Counter = Counter()
    for text in corpus["content"]:
        for line in text.split("\n"):
            toks = line.split()
            bigrams.update(b for b in zip(toks, toks[1:])
                           if b[0] != b[1] and b[0] in top and b[1] in top)
    phrases, used = [], set()
    for b, _ in sorted(bigrams.items(), key=lambda kv: (-kv[1], kv[0])):
        if not used & set(b):
            phrases.append(b)
            used |= set(b)
    stems = sorted(range(10, 100), key=lambda nn: (
        -sum(1 for t in df if t.startswith(f"sym{nn}")), nn))
    fuzzy = [t for t in ranked if t.startswith("sym") and len(t) == 7]
    h = HOT_TERMS

    def pair(band: int, j: int) -> str:
        # two terms from the band's two halves: a common and a rarer one
        lo = 10 + 2 * band * POOL_BAND
        return f"{ranked[lo + j]} {ranked[lo + POOL_BAND + j]}"

    pools: dict[str, list[Query]] = {s: [] for s in SHAPES}
    for j in range(per_shape):
        pools["needle"].append(Query("needle", needles[j]))
        pools["and"].append(Query("and", pair(0, j), msm="all"))
        pools["mid"].append(Query("mid", pair(1, j)))
        pools["page2"].append(Query("page2", pair(2, j), page2=True))
        pools["not"].append(Query("not", pair(3, j) + " -return"))
        # disjoint pairs first, then pairs at a growing odd offset
        a, b = 2 * j % len(h), (2 * j + 1 + 2 * (j // 7)) % len(h)
        pools["hot"].append(Query("hot", f"{h[a]} {h[b]}"))
        pools["phrase"].append(Query("phrase", '"%s %s"' % phrases[j]))
        pools["prefix"].append(Query("prefix", f"sym{stems[10 + j]}*"))
        pools["fuzzy"].append(Query("fuzzy", fuzzy[3 * j] + "~1"))
    return pools


@dataclass(frozen=True)
class Call:
    query: Query
    fresh: bool  # first use of its pool entry
    topk: bool = False  # also sent through topk


def _shuffled(rng: np.random.Generator, items: tuple[str, ...]) -> list[str]:
    return [items[int(i)] for i in rng.permutation(len(items))]


def query_stream(seed: int, pools: dict[str, list[Query]], n_cycles: int,
                 in_use: int) -> list[Call]:
    """``n_cycles`` cycles of CYCLE calls in seeded order (see the traffic
    model above). The first ``in_use`` entries of each pool count as in
    use."""
    if in_use < 1:
        raise ValueError("repeats need at least one entry in use per shape")
    rng = rng_for(seed, 3)
    used = dict.fromkeys(SHAPES, in_use)
    fresh_shapes: list[str] = []
    topk_shapes: list[str] = []
    out: list[Call] = []
    for _ in range(n_cycles):
        cycle = []
        for shape in SHAPES:
            u = used[shape]
            w = 1.0 / np.arange(1, u + 1) ** ZIPF_S
            cycle.append(Call(pools[shape][int(rng.choice(u, p=w / w.sum()))], False))
        for _ in range(TOPK_PER_CYCLE):
            # the next shape of the block not yet sent to topk this cycle;
            # a shape left over from a block waits for the next cycle
            while not (free := [j for j, s in enumerate(topk_shapes)
                                if not cycle[SHAPES.index(s)].topk]):
                topk_shapes = _shuffled(rng, SHAPES) + topk_shapes
            i = SHAPES.index(topk_shapes.pop(free[-1]))
            cycle[i] = Call(cycle[i].query, False, True)
        for _ in range(FRESH_PER_CYCLE):
            if not fresh_shapes:
                fresh_shapes = _shuffled(rng, FRESH_SHAPES)
            shape = fresh_shapes.pop()
            if used[shape] == len(pools[shape]):
                raise ValueError(f"pool of {shape} used up")
            cycle.append(Call(pools[shape][used[shape]], True))
            used[shape] += 1
        out.extend(cycle[int(i)] for i in rng.permutation(len(cycle)))
    return out


def warm_pool_entries(pools: dict[str, list[Query]], n_warm: int) -> list[Query]:
    """The pool entries setup runs once, so the stream starts with these
    cached and everything ranked after them cold."""
    return [q for shape in SHAPES for q in pools[shape][:n_warm]]


def stream_properties(stream: list[Call], prewarmed: list[Query]) -> dict:
    """The input properties the engine's caches depend on."""
    n = len(stream)
    seen = {t for q in prewarmed for t in q.positive_terms}
    seen |= {t for q in WARMUP_QUERIES for t in q.replace('"', " ").split()}
    repeat = hot = 0
    for call in stream:
        terms = call.query.positive_terms
        hot += any(t in STOPWORDS for t in terms)
        repeat += all(t in seen for t in terms)
        seen.update(terms)
    counts = Counter(call.query.shape for call in stream)
    props = {f"shape_share.{s}": counts[s] / n for s in SHAPES}
    props["hot_term_share"] = hot / n
    props["repeat_only_seen_share"] = repeat / n
    props["first_use_share"] = sum(call.fresh for call in stream) / n
    return props


@dataclass
class Commit:
    """One delta commit. ``rows`` is what add_documents receives; ``marker``
    is planted in every row that must be indexed, so a probe for it counts
    exactly the docs this commit added."""
    marker: str
    rows: pd.DataFrame
    expected_indexed: int
    resent: int


def _commit_hash(repo: str, path: str, content: str) -> str:
    return hashlib.sha256(f"{repo}/{path}:{content}".encode()).hexdigest()[:40]


def make_commit(seed: int, index: int, corpus: pd.DataFrame, indexed: pd.DataFrame,
                n_new: int, n_recommit: int, n_resend: int) -> Commit:
    """New files, new commits of paths already indexed, and unchanged
    re-sends of rows already indexed (which must be skipped)."""
    rng = rng_for(seed, 100 + index)
    marker = f"pbmark{index}"
    start = DELTA_ID_BASE + index * 10_000
    fresh = generate_chunk(np.arange(start, start + n_new + n_recommit, dtype=np.int64))
    fresh["content"] = fresh["content"] + " " + marker
    new = fresh.iloc[:n_new].copy()
    new["path"] = [f"delta/c{index}/f{i}.py" for i in range(n_new)]
    old = corpus.iloc[rng.choice(len(corpus), size=n_recommit, replace=False)]
    recommit = fresh.iloc[n_new:].copy()
    recommit["repo"] = old["repo"].to_numpy()
    recommit["path"] = old["path"].to_numpy()
    resend = indexed.iloc[rng.choice(len(indexed), size=n_resend, replace=False)]
    rows = pd.concat([new, recommit], ignore_index=True)
    rows["commit"] = [_commit_hash(r, p, c) for r, p, c in
                      zip(rows["repo"], rows["path"], rows["content"])]
    rows = pd.concat([rows, resend], ignore_index=True)
    return Commit(marker, rows[["repo", "path", "commit", "lang", "content"]],
                  n_new + n_recommit, n_resend)
