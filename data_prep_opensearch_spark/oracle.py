"""Single-process, obviously-correct BM25 oracle (SURVEY.md §5 plan #2).

Shares the tokenizer and the scoring constants with the engine (both
imported from the same modules), scores EXHAUSTIVELY with float64, and
returns (doc_id, score) sorted by (score desc, doc_id asc). The Spark
engine must be rank-identical with scores equal within 1e-9.
"""

from __future__ import annotations

import re
from collections import Counter

from data_prep_opensearch_spark.functions.tokenize import (
    PHRASE_TOKENIZERS,
    TOKENIZERS,
    tokenize_with_positions,
)
from data_prep_opensearch_spark.operators.bm25 import bm25_tf_term, idf


def _levenshtein(a: str, b: str) -> int:
    """Plain O(len(a)*len(b)) edit distance (insert/delete/substitute,
    unit costs) — matches Spark's ``levenshtein`` and DuckDB's
    ``levenshtein``; the oracle favors the obviously-correct DP over
    the engine's thresholded built-in."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != cb),
            ))
        prev = cur
    return prev[-1]


def _expand_fuzzy(df: dict[str, int], stem,
                  max_expansions: int) -> list[tuple[str, float]]:
    """Engine's expand_fuzzy rule over the dictionary ``df`` (term ->
    df): Levenshtein <= ``stem.max_edits``, positive similarity boost,
    ranked (dist asc, df desc, term asc), capped. Returns [(term,
    boost)]."""
    cands = []
    for t in df:
        if abs(len(t) - len(stem)) > stem.max_edits:
            continue
        d = _levenshtein(t, str(stem))
        if d > stem.max_edits:
            continue
        b = 1.0 - d / min(len(t), len(stem))
        if b <= 0:
            continue
        cands.append((d, -df[t], t, b))
    cands.sort()
    return [(t, b) for _, _, t, b in cands[:max_expansions]]


def _expand_wild(df: dict[str, int], stem, max_expansions: int) -> list[str]:
    """Engine's expand_wildcard rule over the dictionary ``df``: anchored
    pattern match, df desc / term asc, capped. Python ``re`` stands in
    for the engine's RE2 on the patterns both accept alike."""
    if stem.kind == "wild":
        rx = "".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in str(stem)
        )
    else:
        rx = str(stem)
    pat = re.compile(f"^(?:{rx})$")
    exp = sorted(((t, n) for t, n in df.items() if pat.match(t)),
                 key=lambda x: (-x[1], x[0]))[:max_expansions]
    return [t for t, _ in exp]


class OracleIndex:
    def __init__(self, docs: dict[int, str], tokenizer: str = "simple") -> None:
        self.tokenizer = tokenizer
        tok = TOKENIZERS[tokenizer]
        self.tf: dict[int, Counter] = {d: Counter(tok(c or "")) for d, c in docs.items()}
        # positional twin: term -> doc -> sorted within-doc positions
        # (index semantics: tokenize_with_positions)
        self.pos: dict[str, dict[int, list[int]]] = {}
        for d, c in docs.items():
            toks, poss = tokenize_with_positions(c or "", tokenizer)
            for t, p in zip(toks, poss):
                self.pos.setdefault(t, {}).setdefault(d, []).append(p)
        self.doclen = {d: sum(c.values()) for d, c in self.tf.items()}
        self.n_docs = len(docs)
        self.avgdl = (sum(self.doclen.values()) / self.n_docs) if self.n_docs else 0.0
        self.df: Counter = Counter()
        self.postings: dict[str, list[tuple[int, int]]] = {}
        for d, counts in self.tf.items():
            for term, tf in counts.items():
                self.df[term] += 1
                self.postings.setdefault(term, []).append((d, tf))

    def query(
        self, query: str, k: int = 10,
        min_should_match: int | str | None = None,
        max_expansions: int = 50,
    ) -> list[tuple[int, float]]:
        """Same clause semantics as the engine: a literal term is one
        clause; a trailing-``*`` chunk is one PREFIX clause expanded to
        its (df-ranked, capped) dictionary matches, scored per expansion
        but counting once toward min_should_match."""
        from data_prep_opensearch_spark.operators.bm25 import (
            Fuzzy,
            Wildcard,
            parse_query,
            resolve_msm,
        )

        tok = TOKENIZERS[self.tokenizer]
        literals, prefixes, neg_lit, neg_pre, phrases, neg_phrases = (
            parse_query(query, tok,
                        phrase_tok=PHRASE_TOKENIZERS[self.tokenizer])
        )

        def _expand(stem: str) -> list[str]:
            exp = sorted(
                ((t, self.df[t]) for t in self.postings
                 if t.startswith(stem)),
                key=lambda x: (-x[1], x[0]),
            )[:max_expansions]
            return [t for t, _ in exp]

        def _stems(stems_in):
            seen = {}
            for s in stems_in:
                seen.setdefault(
                    (str(s), getattr(s, "max_edits", -1),
                     getattr(s, "kind", ""), getattr(s, "boost", 1.0)), s,
                )
            return [seen[k] for k in sorted(seen)]

        weights: dict[str, float] = {}

        def bump(t, w):
            weights[t] = max(weights.get(t, 0.0), w)

        lit_best: dict[str, float] = {}
        for t in literals:
            lit_best[str(t)] = max(lit_best.get(str(t), 0.0),
                                   getattr(t, "boost", 1.0))
        clauses: list[list[str]] = [[t] for t in sorted(lit_best)]
        for t, b in lit_best.items():
            bump(t, b)
        for stem in _stems(prefixes):
            b = getattr(stem, "boost", 1.0)
            if isinstance(stem, Fuzzy):
                exp_f = _expand_fuzzy(self.df, stem, max_expansions)
                clauses.append([t for t, _ in exp_f])
                for t, fb in exp_f:
                    bump(t, b * fb)
            elif isinstance(stem, Wildcard):
                exp_w = _expand_wild(self.df, stem, max_expansions)
                clauses.append(exp_w)
                for t in exp_w:
                    bump(t, b)
            else:
                exp_p = _expand(stem)
                clauses.append(exp_p)
                for t in exp_p:
                    bump(t, b)
        boosts = {t: w for t, w in weights.items() if w != 1.0}
        negs: set[str] = set(neg_lit)
        for stem in _stems(neg_pre):
            if isinstance(stem, Fuzzy):
                negs.update(
                    t for t, _ in _expand_fuzzy(self.df, stem, max_expansions))
            elif isinstance(stem, Wildcard):
                negs.update(_expand_wild(self.df, stem, max_expansions))
            else:
                negs.update(_expand(stem))
        excluded: set[int] = set()
        for t in negs:
            excluded.update(d for d, _ in self.postings.get(t, []))
        for ph in neg_phrases:
            excluded.update(self._phrase_freq(ph))
        msm = resolve_msm(min_should_match, len(clauses) + len(phrases))
        terms = sorted({t for cl in clauses for t in cl})
        scores: dict[int, float] = {}
        matched: dict[int, set[int]] = {}
        for t in terms:
            plist = self.postings.get(t)
            if not plist:
                continue
            w = idf(self.n_docs, self.df[t]) * boosts.get(t, 1.0)
            cids = [ci for ci, cl in enumerate(clauses) if t in cl]
            for d, tf in plist:
                scores[d] = scores.get(d, 0.0) + w * bm25_tf_term(
                    float(tf), float(self.doclen[d]), self.avgdl
                )
                matched.setdefault(d, set()).update(cids)
        for pi, ph in enumerate(phrases):
            w = getattr(ph, "boost", 1.0) * sum(
                idf(self.n_docs, self.df[t]) for t in ph
            )
            for d, pf in self._phrase_freq(ph).items():
                scores[d] = scores.get(d, 0.0) + w * bm25_tf_term(
                    float(pf), float(self.doclen[d]), self.avgdl
                )
                matched.setdefault(d, set()).add(len(clauses) + pi)
        ranked = sorted(
            ((d, s) for d, s in scores.items()
             if len(matched[d]) >= msm and d not in excluded),
            key=lambda x: (-x[1], x[0]),
        )
        return ranked[:k]

    def _phrase_freq(self, ph: list[str]) -> dict[int, int]:
        """doc -> number of DISTINCT start positions matching the
        phrase (the engine's phrase_freq semantics, pure python).
        ``ph.slop`` (a :class:`bm25.Phrase`) > 0 switches to the
        ordered-proximity window: a start matches when a strictly-
        increasing chain of the terms exists with total gap
        ``(p_n - p1) - (n-1) <= slop``; the greedy smallest-next chain
        decides feasibility (it minimizes the final end)."""
        import bisect

        slop = getattr(ph, "slop", 0)
        maps = [self.pos.get(t) for t in ph]
        if any(m is None for m in maps):
            return {}
        cand = set(maps[0])
        for m in maps[1:]:
            cand &= set(m)
        out: dict[int, int] = {}
        if slop == 0:
            for d in cand:
                starts = set(maps[0][d])
                for i, m in enumerate(maps[1:], 1):
                    starts &= {p - i for p in m[d]}
                    if not starts:
                        break
                if starts:
                    out[d] = len(starts)
            return out
        for d in cand:
            lists = [sorted(set(m[d])) for m in maps]
            n_hit = 0
            for p1 in lists[0]:
                e = p1
                feasible = True
                for lst in lists[1:]:
                    j = bisect.bisect_right(lst, e)
                    if j == len(lst):
                        feasible = False
                        break
                    e = lst[j]
                if feasible and (e - p1) - (len(ph) - 1) <= slop:
                    n_hit += 1
            if n_hit:
                out[d] = n_hit
        return out


def reference_query_set() -> list[dict]:
    """The fixed query set (FIXTURES.md §F2): needles, conjunctions, a hot
    stopword-like term (WAND pruning path), and absent terms."""
    qs = []
    qid = 1
    for needle in ["needle0", "needle7", "needle31", "needle63"]:
        qs.append({"qid": qid, "query": needle, "k": 10}); qid += 1
    for q in ["needle0 import", "fn3 sym7 return", "sym1 sym2 sym4 fn9",
              "def needle13", "class self sym10"]:
        qs.append({"qid": qid, "query": q, "k": 10}); qid += 1
    qs.append({"qid": qid, "query": "return", "k": 10}); qid += 1       # hot term
    qs.append({"qid": qid, "query": "import def", "k": 100}); qid += 1  # big k
    qs.append({"qid": qid, "query": "needle5", "k": 1}); qid += 1
    qs.append({"qid": qid, "query": "zzz_absent_term", "k": 10}); qid += 1
    qs.append({"qid": qid, "query": "zzz_absent needle2", "k": 10}); qid += 1
    return qs
