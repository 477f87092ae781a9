"""BM25 scoring + the top-k query engine (exhaustive and block-max MaxScore).

The engine owns the scoring constants ``K1``/``B`` and the formula
(``idf``, ``bm25_tf_term``); the exhaustive reference (``oracle.py``)
imports both. The catalog's DuckDB oracle SQL (``plans/queries.py``)
imports only the two constants and spells the formula out itself, so it
checks the engine independently (SURVEY.md §7.3 "Rank-identical BM25").

  idf(t)   = ln( (N - df + 0.5) / (df + 0.5) + 1 )           (Lucene form)
  score(d) = Σ_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

All floats are float64; top-k ties broken by ascending docID.

Query plan shape (the engine's second entry point, SURVEY.md §3.3):
  1. analyze query -> terms (same tokenizer as the build)
  2. dictionary semi-join: segment scan FILTERED on term — Catalyst pushes
     ``term IN (...)`` into the parquet scan (term is the leading sort key
     of segment files, so row-group min/max stats prune aggressively).
  3. global df per term, read on the driver (warm or cold engine) by a
     point read of the segment files that reads only the row groups
     whose term min/max can hold a query term (the dictionary step X10
     in SURVEY.md §4) — no Spark job.
  4. the same filter keeps each touched shard's sidecar row (term NULL).
  5. per-shard scoring in mapInPandas -> local top-k per shard: one
     exhaustive evaluator (phrases, the search_after cursor, or
     ``scorer="dense"``), else one exact pruning kernel — block-max
     MaxScore whose count gate is pigeonhole msm — with one cost router
     that hands a shard to the evaluator when nothing can be skipped.
  6. final top-k: orderBy(score desc, doc_id asc).limit(k) — Spark's
     TakeOrderedAndProject does the partial/final merge.
"""

from __future__ import annotations

import bisect
import functools
import math
import os
import re
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from data_prep_opensearch_spark.functions.tokenize import (
    PHRASE_TOKENIZERS,
    TOKENIZERS,
)
from data_prep_opensearch_spark.operators.manifest import load_meta
from data_prep_opensearch_spark.operators.postings import (
    decode_positions,
    decode_posting_block,
    decode_posting_list,
    gather_token_runs,
    merge_posting_runs,
    merge_posting_runs_with_pos,
    vbyte_decode,
)
from data_prep_opensearch_spark.session import sql_conf

K1 = 1.2
B = 0.75


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_tf_term(tf, dl, avgdl: float):
    """Vectorized tf normalization — works on numpy arrays or scalars."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * (dl / avgdl)))


_PHRASE_RE = re.compile(r'(-?)"([^"]*)"(~\d+)?(\^\d+(?:\.\d+)?)?')
_BOOST_RE = re.compile(r"^(.+?)\^(\d+(?:\.\d+)?)$")


class Boosted(str):
    """A literal term carrying a query-time clause boost (``term^2.5``,
    Lucene boost syntax). The parser only admits non-negative boosts
    (the grammar has no sign), which keeps every scorer's upper bounds
    monotone. A term reachable through several clauses takes its MAX
    weight (see ``_plan_clauses``)."""

    __slots__ = ("boost",)

    def __new__(cls, term: str, boost: float = 1.0):
        obj = super().__new__(cls, term)
        obj.boost = float(boost)
        return obj

    def __reduce__(self):
        return (Boosted, (str(self), self.boost))


class Phrase(list):
    """A phrase clause: a list of terms plus a ``slop`` window.

    Subclassing ``list`` keeps every ``for t in ph`` /
    ``all(... for t in ph)`` site oblivious to slop. ``slop`` is the
    proximity budget: the phrase matches at start position p1 when an
    ORDERED chain of strictly-increasing positions exists whose total
    gap ``(p_n - p1) - (n-1)`` is at most ``slop`` (slop=0 is the exact
    consecutive phrase). phrase_freq counts DISTINCT start positions
    with a feasible chain — a deliberate, documented simplification of
    Lucene's sloppy-freq (which weights each match 1/(distance+1) and
    allows out-of-order terms at higher cost); ordered-window semantics
    keep the scorer exact-integer and the SQL oracle expressible.
    """

    __slots__ = ("slop", "boost")

    def __init__(self, terms=(), slop: int = 0, boost: float = 1.0):
        super().__init__(terms)
        self.slop = int(slop)
        self.boost = float(boost)

    # pickle (mapInPandas closures): list contents travel via the
    # listitems iterator; carry slop/boost through explicit state
    def __reduce__(self):
        return (Phrase, (list(self), self.slop, self.boost))


def auto_fuzziness(term: str) -> int:
    """Elasticsearch ``AUTO`` fuzziness: 0 edits below 3 chars, 1 for
    3-5 chars, 2 from 6 chars up (ES ``AUTO:3,6`` defaults)."""
    n = len(term)
    return 0 if n < 3 else (1 if n < 6 else 2)


class Fuzzy(str):
    """A fuzzy stem: the term text plus its edit-distance budget.

    Subclassing ``str`` lets fuzzy stems travel through the same
    expansion-stem lists as prefix stems (every sort/set/str site is
    oblivious); :meth:`BM25Engine._expansions` dispatches on the type.
    ``max_edits`` follows Lucene's FuzzyQuery bounds (0..2; the
    Levenshtein-automata ceiling) — ``None`` resolves to ES ``AUTO``
    by stem length.
    """

    __slots__ = ("max_edits", "boost")

    def __new__(cls, term: str, max_edits: int | None = None,
                boost: float = 1.0):
        obj = super().__new__(cls, term)
        n = auto_fuzziness(term) if max_edits is None else int(max_edits)
        if not 0 <= n <= 2:
            raise ValueError(
                f"fuzzy max_edits must be 0..2 (Lucene bound), got {n}"
            )
        obj.max_edits = n
        obj.boost = float(boost)
        return obj

    def __reduce__(self):
        return (Fuzzy, (str(self), self.max_edits, self.boost))


_FUZZY_RE = re.compile(r"^(.+)~(\d*)$")


class Wildcard(str):
    """A wildcard/regexp stem: expands against the dictionary like a
    prefix, but through an arbitrary pattern. ``kind='wild'`` uses
    Lucene WildcardQuery syntax (``*`` = any run, ``?`` = one char);
    ``kind='re'`` is a regexp body in the RE2 dialect (the DuckDB
    oracle's too), implicitly anchored like Lucene RegexpQuery: no
    lookarounds or backreferences, which raise ``ValueError``.
    Subclasses ``str`` so it travels the same stem lists as prefix /
    fuzzy stems; ``BM25Engine._expansions`` dispatches on the type."""

    __slots__ = ("kind", "boost")

    def __new__(cls, pattern: str, kind: str = "wild", boost: float = 1.0):
        obj = super().__new__(cls, pattern)
        obj.kind = kind
        obj.boost = float(boost)
        return obj

    def __reduce__(self):
        return (self.__class__, (str(self), self.kind, self.boost))


def parse_query(
    query: str, tok, phrase_tok=None
) -> tuple[list[str], list[str], list[str], list[str],
           list[list[str]], list[list[str]]]:
    """Split a query string into (literal terms, prefix stems,
    negated literals, negated prefix stems, phrases, negated phrases).

    ``"quoted text"`` is a PHRASE clause (Lucene match_phrase): its body
    is analyzed with ``phrase_tok`` (default ``tok``; the engine passes
    the whole-identifier analyzer under the 'code' tokenizer, because a
    phrase is a consecutive-position pattern and injected sub-tokens
    share their parent's position). ``"..."~N`` sets the phrase's slop
    (ordered proximity window, see :class:`Phrase`). A single-token
    phrase collapses to a literal; ``-"..."`` negates the phrase
    (must_not). Unpaired quotes are not token characters and simply
    tokenize away.

    A whitespace chunk ending in ``*`` is a PREFIX clause: its stem is
    run through the tokenizer, the last produced token becomes the
    prefix stem and any earlier ones (e.g. the ``foo`` of ``foo.bar*``
    under the 'code' tokenizer) stay literal. A chunk ending in ``~``
    or ``~N`` (N in 0..2, bare ``~`` = ES AUTO by length) is a FUZZY
    clause: the last stem token becomes a :class:`Fuzzy` entry in the
    prefix-stem list (``~0`` collapses to a literal; ``~3`` and up raise
    ``ValueError``, as Lucene rejects them). A chunk with ``*``/``?``
    anywhere but the pure-trailing position is a WILDCARD clause (Lucene
    WildcardQuery: ``*`` any run, ``?`` one char), and ``/body/`` is a
    REGEXP clause (implicitly anchored, as in Lucene RegexpQuery, but in
    the RE2 dialect: a pattern RE2 rejects, such as a lookahead or a
    backreference, raises ``ValueError`` when the clause expands) — both
    expand against the dictionary under the same df-ranked cap as
    prefixes and score as one scoring-boolean clause. A chunk starting
    with ``-`` is a MUST_NOT clause (Lucene bool must_not): every token
    it produces joins the exclusion set (its trailing-``*`` / ``~N``
    form negates the stem's expansions). A trailing ``^B`` (B a
    non-negative float; composes AFTER ``*``/``~N``/``"..."~N``) boosts
    every clause the chunk produces — Lucene query-time boosts; on a
    must_not chunk it is stripped as meaningless. Everything else is
    tokenized wholesale (the tokenizers are regex-findall, so joining
    chunks with a space is lossless).
    """
    literals: list[str] = []
    prefixes: list[str] = []
    neg_literals: list[str] = []
    neg_prefixes: list[str] = []
    phrases: list[list[str]] = []
    neg_phrases: list[list[str]] = []
    ptok = phrase_tok or tok

    def _take_phrase(m: "re.Match[str]") -> str:
        toks = ptok(m.group(2))
        neg = m.group(1) == "-"
        slop = int(m.group(3)[1:]) if m.group(3) else 0
        boost = float(m.group(4)[1:]) if m.group(4) else 1.0
        if not toks:
            pass
        elif len(toks) == 1:
            (neg_literals if neg else literals).append(
                toks[0] if neg or boost == 1.0 else Boosted(toks[0], boost)
            )
        else:
            (neg_phrases if neg else phrases).append(
                Phrase(toks, slop, boost)
            )
        return " "

    query = _PHRASE_RE.sub(_take_phrase, query)
    plain: list[str] = []

    def _lit(t: str, boost: float) -> str:
        return t if boost == 1.0 else Boosted(t, boost)

    for chunk in query.split():
        neg = chunk.startswith("-") and len(chunk) > 1
        body = chunk[1:] if neg else chunk
        boost = 1.0
        if (bm := _BOOST_RE.match(body)) is not None:
            # boost applies to every clause the chunk produces; on a
            # must_not chunk it is meaningless and just stripped
            body, boost = bm.group(1), float(bm.group(2))
        bl = body.lower()
        pure_prefix = (bl.endswith("*") and len(bl) > 1
                       and "*" not in bl[:-1] and "?" not in bl)
        if len(bl) > 2 and bl.startswith("/") and bl.endswith("/"):
            # Lucene RegexpQuery: /pattern/ (implicitly anchored)
            (neg_prefixes if neg else prefixes).append(
                Wildcard(bl[1:-1], "re", boost))
            continue
        if (("*" in bl or "?" in bl) and not pure_prefix
                and set(bl) != {"*"}  # bare-star chunks drop (no match-all)
                and re.fullmatch(r"[a-z0-9_*?]+", bl)):
            # Lucene WildcardQuery: * = any run, ? = one char (a chunk
            # with ONLY one trailing * stays the cheaper prefix clause)
            (neg_prefixes if neg else prefixes).append(
                Wildcard(bl, "wild", boost))
            continue
        if body.endswith("*") and len(body) > 1:
            stem_tokens = tok(body[:-1])
            if not stem_tokens:
                continue
            if neg:
                neg_literals.extend(stem_tokens[:-1])
                neg_prefixes.append(stem_tokens[-1])
            else:
                literals.extend(_lit(t, boost) for t in stem_tokens[:-1])
                prefixes.append(_lit(stem_tokens[-1], boost))
        elif (fm := _FUZZY_RE.match(body)) is not None:
            stem_tokens = tok(fm.group(1))
            if not stem_tokens:
                continue
            # a budget past Lucene's 0..2 ceiling raises (Fuzzy's check),
            # like Lucene's FuzzyQuery; the CLI reports it as a message
            stem = Fuzzy(
                stem_tokens[-1],
                None if fm.group(2) == "" else int(fm.group(2)),
                boost,
            )
            if neg:
                neg_literals.extend(stem_tokens[:-1])
            else:
                literals.extend(_lit(t, boost) for t in stem_tokens[:-1])
            if stem.max_edits == 0:
                (neg_literals if neg else literals).append(
                    str(stem) if neg else _lit(str(stem), boost)
                )
            else:
                (neg_prefixes if neg else prefixes).append(stem)
        elif neg:
            neg_literals.extend(tok(body))
        elif boost != 1.0:
            literals.extend(_lit(t, boost) for t in tok(body))
        else:
            plain.append(chunk)
    literals.extend(tok(" ".join(plain)))
    return literals, prefixes, neg_literals, neg_prefixes, phrases, neg_phrases


def resolve_msm(msm, n_terms: int) -> int:
    """Normalize a ``min_should_match`` spec to an int.

    ``None``/``0``/``1`` -> 1 (disjunctive OR, the default); ``"all"`` ->
    the number of DISTINCT query terms (pure AND); an int m -> m-of-n.
    ``n_terms`` counts distinct tokenized terms BEFORE the df>0 filter —
    Lucene semantics: an AND over a query containing a term absent from
    the index matches nothing (the missing clause can never be satisfied).
    """
    if msm is None or msm == 0:
        return 1
    if msm == "all":
        return n_terms if n_terms else 1
    m = int(msm)
    if m < 0:
        raise ValueError(f"min_should_match must be >= 0, got {msm}")
    return max(m, 1)


TOPK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

BATCH_TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def _sidecar_of(grp: pd.DataFrame, shard: int) -> tuple[int, bytes, np.ndarray | None]:
    """(base, dl_bytes, deleted) from the sidecar row (``term`` NULL)
    among ``shard``'s rows."""
    side = grp[grp["term"].isna()]
    if side.empty:
        raise ValueError(f"shard {shard} has segment rows but no doclens "
                         "row; the doclens must hold one row per shard")
    base, dl_bytes, deleted = side.iloc[0][["base", "dl_bytes", "deleted"]]
    return int(base), bytes(dl_bytes), (
        None if deleted is None else np.asarray(deleted, dtype=np.int64))


def _successor(stem: str) -> str | None:
    """The least string above every string that starts with ``stem``, in
    code-point order (= the UTF-8 byte order of parquet statistics);
    None when no such string exists. U+10FFFF cannot be incremented, so
    it is dropped and the char before it is; the surrogate block has no
    UTF-8 form and is skipped."""
    while stem:
        c = ord(stem[-1]) + 1
        if c <= 0x10FFFF:
            return stem[:-1] + chr(0xE000 if 0xD800 <= c <= 0xDFFF else c)
        stem = stem[:-1]
    return None


class TermKeys(NamedTuple):
    """The term rows a segment read wants: the sorted point set
    ``points``, or, when ``stem`` is set, every term that starts with
    it — the ``[stem, upper)`` range (``upper`` None: unbounded)."""
    points: tuple[str, ...] = ()
    stem: str | None = None
    upper: str | None = None

    def can_hold(self, lo: str, hi: str) -> bool:
        """Whether a row group whose terms span ``[lo, hi]`` can hold a
        wanted term."""
        if self.stem is not None:
            return hi >= self.stem and (self.upper is None or lo < self.upper)
        i = bisect.bisect_left(self.points, lo)
        return i < len(self.points) and self.points[i] <= hi

    def mask(self, terms: pa.ChunkedArray) -> pa.ChunkedArray:
        """The wanted rows among the rows of the row groups read."""
        if self.stem is not None:
            return pc.starts_with(terms, self.stem)
        return pc.is_in(terms, value_set=pa.array(self.points, pa.string()))


def term_point_filter(terms) -> TermKeys:
    """Rows of any of ``terms``."""
    return TermKeys(points=tuple(sorted(set(terms))))


def term_prefix_filter(stem: str) -> TermKeys:
    """Rows whose term starts with ``stem``: the ``[stem, successor)``
    range prunes row groups on both sides."""
    return TermKeys(stem=stem, upper=_successor(stem))


def levenshtein(terms: pa.ChunkedArray, stem: str, max_edits: int) -> np.ndarray:
    """Spark's ``levenshtein(term, stem, max_edits)`` for each of
    ``terms``: the plain edit distance (unit insertions, deletions and
    substitutions, no transpositions) counted in code points, or -1
    where it exceeds ``max_edits``. A term outside the length window
    ``|len(term) - len(stem)| <= max_edits`` is -1 without a DP. The
    rest run one numpy DP row per stem character, vectorized across the
    terms; a row's insertion step is a running minimum. Row minima never
    fall, so a term leaves the DP once its row minimum passes the
    budget."""
    lens = pc.utf8_length(terms).to_numpy()
    out = np.full(len(lens), -1, np.int64)
    idx = np.flatnonzero(np.abs(lens - len(stem)) <= max_edits)
    if not idx.size:
        return out
    width = int(lens[idx].max())
    # numpy's fixed-width str dtype is UTF-32: one uint32 per code point,
    # zero-padded past each term's length
    chars = np.array(terms.take(idx).to_pylist(), dtype=f"<U{max(width, 1)}")
    chars = chars.view(np.uint32).reshape(len(idx), -1)[:, :width]
    steps = np.arange(width + 1)
    row = np.tile(steps, (len(idx), 1))
    for i, c in enumerate(map(ord, stem), 1):
        nxt = np.empty_like(row)
        nxt[:, 0] = i
        np.minimum(row[:, 1:] + 1, row[:, :-1] + (chars != c), out=nxt[:, 1:])
        row = np.minimum.accumulate(nxt - steps, axis=1) + steps
        alive = row.min(axis=1) <= max_edits
        if not alive.all():
            idx, chars, row = idx[alive], chars[alive], row[alive]
    dist = row[np.arange(len(idx)), lens[idx]]
    out[idx] = np.where(dist <= max_edits, dist, -1)
    return out


def sql_string(text: str) -> str:
    """``text`` as a Spark SQL expression that reads back as exactly
    ``text``: its UTF-8 bytes as a hex binary literal, cast to string.
    No character needs escaping, so quotes, backslashes and newlines
    round-trip, and under either value of
    ``spark.sql.parser.escapedStringLiterals``. The optimizer folds the
    cast into a plain literal, so an ``IN`` list of these is still an
    ``In``/``InSet`` predicate that reaches the cached scan."""
    return f"CAST(X'{text.encode().hex()}' AS STRING)"


def scan_filter(shards: list[int], terms: list[str] | None = None) -> Column:
    """The scan frame's rows of ``shards`` that hold one of ``terms``, and
    those shards' sidecar rows (term NULL); ``terms=None`` keeps the
    sidecar rows alone. One SQL expression, so building it is one parser
    call however many terms a query reads; a per-literal ``isin`` costs
    py4j round trips per term."""
    keep = (f"(term IN ({', '.join(map(sql_string, terms))}) OR term IS NULL)"
            if terms else "term IS NULL")
    return F.expr(f"shard IN ({', '.join(map(str, shards))}) AND {keep}"
                  if shards else "FALSE")


class SegmentsRetired(FileNotFoundError):
    """A segment file of the engine's snapshot is gone: a concurrent
    merge retired it after the engine's staleness check."""


class _SegmentFile(NamedTuple):
    path: str
    meta: pq.FileMetaData
    columns: frozenset[str]
    # per row group, the [min, max] of ``term``; None when some row
    # group has no such statistics, and the file is read whole
    ranges: list[tuple[str, str]] | None

    @classmethod
    def open(cls, path: str) -> "_SegmentFile":
        meta = pq.read_metadata(path)
        names = [meta.schema.column(j).path for j in range(meta.num_columns)]
        ranges: list[tuple[str, str]] | None = []
        j = names.index("term")
        for i in range(meta.num_row_groups):
            st = meta.row_group(i).column(j).statistics
            if st is None or not st.has_min_max or not isinstance(st.min, str):
                ranges = None
                break
            ranges.append((st.min, st.max))
        return cls(path, meta, frozenset(meta.schema.to_arrow_schema().names),
                   ranges)

    def groups(self, keys: TermKeys) -> list[int]:
        if self.ranges is None:
            return list(range(self.meta.num_row_groups))
        return [i for i, (lo, hi) in enumerate(self.ranges)
                if keys.can_hold(lo, hi)]


class _SegmentReader:
    """Driver-side point reads of the live segment files with pyarrow:
    the term-dictionary lookup a search node answers in-process, with
    no Spark job. Each file's footer, with its row groups' ``term``
    min/max, is read once when the engine loads. A read then opens the
    files again, reads only the row groups whose term range can hold a
    wanted term and filters their rows in memory. Every writer lays a
    segment dir out in term ranges, term-sorted within each file
    (``index_build.term_ranges``), so a point read opens about one file
    per dir and a few row groups of it; a file of an older layout spans
    the whole dictionary and is read whole. No file handle
    outlives a read, so a file a merge retired raises
    ``SegmentsRetired``."""

    def __init__(self, files: list[str]) -> None:
        self._files = [_SegmentFile.open(p) for p in files]
        # files from different writers can differ in optional columns
        self._schema = pa.unify_schemas(
            [f.meta.schema.to_arrow_schema() for f in self._files])

    def read(self, keys: TermKeys, columns: list[str]) -> pa.Table:
        """``columns`` of the rows ``keys`` wants. A column some file
        holds reads as nulls from the files that lack it."""
        schema = pa.schema([self._schema.field(c) for c in columns])
        parts = []
        for f in self._files:
            groups = f.groups(keys)
            if not groups:
                continue
            try:
                with pq.ParquetFile(f.path, metadata=f.meta) as pf:
                    t = pf.read_row_groups(
                        groups, use_threads=False, columns=[
                            c for c in dict.fromkeys(["term", *columns])
                            if c in f.columns])
            except FileNotFoundError as exc:
                raise SegmentsRetired(str(exc)) from exc
            t = t.filter(keys.mask(t["term"]))
            parts.append(pa.table(
                [t[c] if c in f.columns else pa.nulls(len(t), schema.field(c).type)
                 for c in columns], schema=schema))
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def dfs(self, keys: TermKeys) -> pa.Table:
        """(term, df, shards) per term read: df summed over shards and
        generations, shards ascending."""
        t = self.read(keys, ["term", "shard", "df"])
        enc = t["term"].combine_chunks().dictionary_encode()
        idx = enc.indices.to_numpy().astype(np.int64)
        df = np.zeros(len(enc.dictionary), np.int64)
        np.add.at(df, idx, t["df"].to_numpy())
        pairs = np.unique(idx << 32 | t["shard"].to_numpy())
        offsets = np.searchsorted(pairs >> 32, np.arange(len(df) + 1))
        shards = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(pairs & 0xFFFFFFFF, pa.int32()))
        return pa.table({"term": enc.dictionary, "df": df, "shards": shards})


def _one_snapshot(method):
    """Run an engine entry point against one index snapshot. When a
    concurrent merge retires a segment file between the staleness check
    and a driver-side read, reload and run the whole call once more.
    Nested entry points leave the retry to the outermost, so no answer
    mixes two snapshots."""
    @functools.wraps(method)
    def call(self, *args, **kwargs):
        if self._entered:
            return method(self, *args, **kwargs)
        self._entered = True
        try:
            try:
                return method(self, *args, **kwargs)
            except SegmentsRetired:
                self.unpersist()
                self._load()
            return method(self, *args, **kwargs)
        finally:
            self._entered = False
    return call


class BM25Engine:
    """Warm query engine. Init loads, once:
      - a driver-side reader over the live segment files (the term
        dictionary step X10 of SURVEY.md §4), holding each file's footer
        and per-row-group term min/max: df resolution, every dictionary
        expansion (prefix, fuzzy, wildcard and regexp, through one
        ``_expand``), the suggesters and the driver-local tier's posting
        fetches read only the row groups of the term-sorted files that
        can hold a wanted term, with no Spark job; resolved dfs are
        cached per term with the shards that hold it,
      - ONE scan frame CACHED pre-partitioned by shard: the segment
        rows (without ``cf``, which no query reads) plus, per shard, one
        sidecar row (term NULL) carrying its doclens and masked ids.
    A warm ``topk`` then runs 1 Spark job:
      filter(term IN ... OR term IS NULL, shard IN touched) ->
      mapInPandas (per-shard top-k) -> TakeOrderedAndProject,
    with no join, no broadcast and no shuffle. The filter is one SQL
    expression (``scan_filter``): one parser call per query, however
    many terms a prefix expands to, and Catalyst still hands the
    ``term`` predicate to the cached scan as ``In``/``InSet``. The cache
    is planned with AQE off (``_cached``): its shard exchange is one AQE
    never coalesces, and a cached plan that is adaptive makes Spark wrap
    every query over the cache in AQE. So the warm ``topk``,
    ``match_scores`` and the local tier's sidecar fetch run as plain
    plans, with no adaptive stage around them.

    ``topk``, ``match_scores`` and ``topk_batch`` plan through one
    ``_shard_scored``. Per shard, every query runs the ONE clause
    evaluator (``_evaluate`` over a dense accumulator, via
    ``_score_shard_dense``: terms, phrases, msm, must_not, tombstones,
    the cursor and the top-k cut) or, without phrases or a cursor, the
    ONE exact pruning kernel (``_score_shard_pruned``: block-max
    MaxScore with a pigeonhole count gate for msm), whose one cost
    router (``_route``) hands the shard to the evaluator when nothing
    is skippable. ``topk_local`` runs the same evaluator on the driver
    over a sparse accumulator.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache: bool = True,
        prune_superseded: bool = False,
    ) -> None:
        """``prune_superseded``: mask every document version except the
        latest per (repo, path) — tombstone-style masking (scores use
        full-corpus stats; superseded docs are excluded from results).

        Sidecar discipline (round-2 review item): the per-shard doclen
        bytes and masked-id arrays NEVER transit the driver. Each shard's
        are one row (term NULL) of the scan frame, partitioned on
        ``shard`` with its segment rows, and a query keeps only the rows
        of the shards holding its terms (shard sets come with the df
        read) — no join, no exchange. At 10^12 docs (thousands of shards
        × ~MB of dl_bytes each) the round-2 collect+broadcast was GBs
        through the driver; this path is one shuffle at init and zero
        at query time.

        Staleness discipline (round-4 review item): every public query
        entry point stats the index's commit artifacts first
        (_index_token: manifest.json + meta.json) and on ANY change
        unpersists and reloads — so an engine held across an
        add/delete/merge by the same or another process serves
        post-mutation results from every tier (distributed, batch, and
        the driver-local cache) without a manual flush. Cost per query:
        two os.stat calls."""
        self.spark = spark
        self.index_dir = index_dir
        self._cache_req = cache
        self._prune_superseded = prune_superseded
        self._load()

    @staticmethod
    def _stat_sig(path: str) -> tuple[int, int] | None:
        try:
            st = os.stat(path)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size)

    def _index_token(self) -> tuple:
        """Cheap change signature of the index's commit artifacts. Every
        mutation path lands in at least one of these: add, delete, merge
        and vacuum publish manifest.json, and add and merge refresh
        meta.json."""
        d = self.index_dir
        return (
            self._stat_sig(os.path.join(d, "manifest.json")),
            self._stat_sig(os.path.join(d, "meta.json")),
        )

    def _maybe_refresh(self) -> None:
        if self._index_token() != self._token:
            self.unpersist()
            self._load()

    _entered = False  # inside an _one_snapshot entry point

    def _load(self) -> None:
        from data_prep_opensearch_spark.operators.incremental import with_superseded
        from data_prep_opensearch_spark.operators.manifest import (
            load_manifest,
            read_doclens,
            read_segments,
            segment_files,
        )

        spark = self.spark
        index_dir = self.index_dir
        cache = self._cache_req
        prune_superseded = self._prune_superseded
        self._token = self._index_token()
        self.meta = load_meta(index_dir)
        # one manifest load: the Spark scan and the driver-side reader see
        # the same segment files. No query reads cf.
        m = load_manifest(index_dir)
        seg = read_segments(spark, index_dir, m).drop("cf")
        self._segments = _SegmentReader(segment_files(index_dir, m))

        # the doclens rows ARE the sidecar rows, deletes included
        sidecar = read_doclens(spark, index_dir).select(
            "shard", "base", "dl_bytes", "deleted")
        if prune_superseded:
            sidecar = with_superseded(spark, index_dir, sidecar)
        # one scan frame: each shard's sidecar row rides with its rows
        scan = seg.unionByName(sidecar, allowMissingColumns=True)

        # the warm cache stays position-free: pos_bytes would roughly
        # double the cached footprint and only phrase queries read it.
        # A positional twin (self._scan_pos) is cached lazily on the
        # first phrase query.
        self._scan_all = scan
        scan = scan.drop("pos_bytes")
        self._scan_pos = None

        self._shard_partitioned = cache
        if cache:
            # one cached partition per CORE, not per shard: a shard-count
            # of partitions makes every warm query schedule n_shards
            # tasks (128-shard index on 32 cores = 4 waves of pure
            # scheduling overhead — measured 3x the warm p50). Multiple
            # shards hash into one partition; score_partition already
            # groups by shard within a partition.
            n_part = min(
                max(spark.sparkContext.defaultParallelism, 1),
                self.meta["n_shards"],
            )
            self._n_part = n_part
            scan = self._cached(scan)
        self._scan = scan
        # the term rows alone, for the dictionary readers
        self.seg = scan.filter(F.col("term").isNotNull()).drop("base", "dl_bytes", "deleted")
        # term dictionary: resolved LAZILY per query by a driver-side
        # point read of the (term-sorted) segment files, pruned on term
        # min/max stats — never a full-vocabulary collect (the round-1
        # toPandas() pulled the whole vocab to the driver, which cannot
        # exist at 10^12 docs). Warm terms are cached with their shards.
        self._df_cache: dict[str, tuple[int, frozenset[int]]] = {}
        # expansion cache: (stem, ..., cap) -> [(term, df, ...), ...]
        self._prefix_cache: dict[tuple, list[tuple]] = {}
        # driver-local latency tier (topk_local): per term, fully decoded
        # (docs, tfs, dls, positions | None) spanning all shards and
        # generations, and per-shard sidecars — fetched on demand and
        # LRU-bounded
        self._local_postings: dict[str, tuple] = {}
        self._local_side: dict[
            int, tuple[int, np.ndarray, np.ndarray | None]
        ] = {}
        self._local_deleted: np.ndarray = np.zeros(0, dtype=np.int64)
        self._local_bytes = 0

    def unpersist(self) -> None:
        """Release the cached scan partitions (blocking).
        A long-lived session that retires an engine must call this, or
        the storage-memory occupancy taxes every later job's GC — the
        r3 bench measured 3x walls on unrelated aggregation queries run
        after a 500k-doc engine was left cached in-session."""
        if self._shard_partitioned:
            self._scan.unpersist(blocking=True)
            if self._scan_pos is not None:
                self._scan_pos.unpersist(blocking=True)
        self._scan_pos = None
        self._df_cache.clear()
        self._prefix_cache.clear()
        self._local_postings.clear()
        self._local_side.clear()
        self._local_deleted = np.zeros(0, dtype=np.int64)
        self._local_bytes = 0

    def _scan_positional(self) -> DataFrame:
        """The scan frame INCLUDING pos_bytes, sidecar rows and all, for
        phrase queries — cached lazily with the same shard partitioning
        as ``self._scan``. Kept separate from the warm cache: positions
        roughly double the bytes and only phrase queries read them."""
        self._require_positions()
        if self._scan_pos is None:
            sp = self._scan_all
            if self._shard_partitioned:
                sp = self._cached(sp)
            self._scan_pos = sp
        return self._scan_pos

    def _cached(self, scan: DataFrame) -> DataFrame:
        """``scan`` partitioned by shard, cached and materialized, from a
        plan made with AQE off. The ``repartition(n, shard)`` exchange is
        REPARTITION_BY_NUM, which AQE never coalesces, so AQE gains the
        cache nothing; but a cached plan that is adaptive makes Spark
        wrap every later query over the cache in AQE (its result-stage
        thread, its plan re-explains), and a query with no exchange of
        its own, like a warm ``topk``, then pays for it on every call."""
        with sql_conf(self.spark, {"spark.sql.adaptive.enabled": "false"}):
            scan = scan.repartition(self._n_part, "shard").cache()
            scan.count()
        return scan

    def _require_positions(self) -> None:
        if not self.meta.get("positions"):
            raise ValueError(
                "phrase query requires an index built with positions=True "
                f"({self.index_dir} has none)"
            )

    @_one_snapshot
    def resolve_df(self, terms: list[str]) -> dict[str, int]:
        """Global df per term (summed over shards/generations) via one
        driver-side point read for cache misses; absent terms resolve
        to 0. The read also caches each term's shard set."""
        cache = self._df_cache
        if len(cache) > 4_000_000:  # bound driver memory
            cache.clear()
        missing = [t for t in terms if t not in cache]
        if missing:
            got = self._segments.dfs(term_point_filter(missing))
            self._seed_dfs(zip(*(c.to_pylist() for c in got.columns)))
            for t in missing:
                cache.setdefault(t, (0, frozenset()))
        return {t: cache[t][0] for t in terms}

    def _seed_dfs(self, rows) -> None:
        """Cache the (term, df, shards, ...) rows of a dictionary read."""
        for t, d, shards, *_ in rows:
            self._df_cache.setdefault(t, (int(d), frozenset(shards)))

    # Lucene-style default cap on multi-term expansion
    MAX_EXPANSIONS = 50
    _BY_DF = [("df", "descending"), ("term", "ascending")]

    def _expand(self, key: tuple, read, order: list, cap: int) -> list[tuple]:
        """The body every dictionary expander shares: the (term, df,
        shards, ...) rows ``read()`` takes from the driver reader, ranked
        by ``order`` and capped at ``cap`` (Lucene's max_expansions, so
        an expanded clause stays bounded). Returns [(term, global_df,
        ...), ...], cached under ``key`` until the next index mutation;
        the expansions seed the term-df cache."""
        if key not in self._prefix_cache:
            got = read().sort_by(order).slice(0, cap)
            rows = list(zip(*(c.to_pylist() for c in got.columns)))
            self._prefix_cache[key] = [(t, d, *rest) for t, d, _, *rest in rows]
            self._seed_dfs(rows)
        return self._prefix_cache[key]

    @_one_snapshot
    def expand_prefix(
        self, stem: str, max_expansions: int | None = None
    ) -> list[tuple[str, int]]:
        """Expand a prefix stem against the index dictionary: one
        driver-side read of the TERM-SORTED segment files bounded to
        the stem's [stem, successor) range, so row groups outside it are
        pruned and this stays a dictionary point-read at any corpus size
        (never a vocabulary collect). When a stem matches more terms
        than the cap, the HIGHEST-df expansions win (ties to the
        lexicographically first term) — the deterministic choice that
        retains the expansions with the most matches.
        Returns [(term, global_df), ...] df-desc."""
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        return self._expand(
            (stem, cap), lambda: self._segments.dfs(term_prefix_filter(stem)),
            self._BY_DF, cap)

    @_one_snapshot
    def _fuzzy_candidates(self, stem: str, max_edits: int,
                          prefix_length: int) -> pa.Table:
        """(term, df, shards, dist) of every dictionary term that starts
        with ``stem[:prefix_length]``, lies within ``max_edits`` of
        ``stem`` and has a positive similarity ``1 - dist/min(|term|,
        |stem|)``: the candidates ``expand_fuzzy`` ranks and
        ``suggest.term_suggest`` ranks its own way. One driver read of
        the pinned prefix's [prefix, successor) range; with
        ``prefix_length`` 0 it reads the whole dictionary, the cost
        Lucene's FuzzyQuery accepts for ``prefix_length=0``."""
        dic = self._segments.dfs(term_prefix_filter(stem[:prefix_length]))
        dist = levenshtein(dic["term"], stem, max_edits)
        shorter = np.minimum(pc.utf8_length(dic["term"]).to_numpy(), len(stem))
        keep = (dist >= 0) & (dist < shorter)
        return dic.filter(keep).append_column("dist", pa.array(dist[keep]))

    @_one_snapshot
    def expand_fuzzy(
        self, stem: str, max_edits: int,
        max_expansions: int | None = None, prefix_length: int = 0,
    ) -> list[tuple[str, int, int]]:
        """Expand a fuzzy stem (Lucene FuzzyQuery): dictionary terms
        within ``max_edits`` Levenshtein distance of ``stem``, read on
        the driver (``_fuzzy_candidates``). Expansions whose similarity
        boost ``1 - dist/min(|term|, |stem|)`` is not positive are
        dropped (they would contribute nothing — arises only when
        max_edits reaches the shorter length). The cap ranks
        distance-asc first (Lucene's closest-first rewrite), df desc,
        term asc. ``prefix_length >= 1`` pins the first chars and
        restores min/max row-group pruning (the knob Lucene/ES expose
        for the same reason).

        Returns [(term, global_df, distance), ...]."""
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        return self._expand(
            ("~", stem, max_edits, cap, prefix_length),
            lambda: self._fuzzy_candidates(stem, max_edits, prefix_length),
            [("dist", "ascending"), *self._BY_DF], cap)

    @_one_snapshot
    def expand_wildcard(
        self, pattern: str, kind: str = "wild",
        max_expansions: int | None = None,
    ) -> list[tuple[str, int]]:
        """Expand a wildcard (``*``/``?``) or regexp stem against the
        dictionary, read on the driver. A wildcard's LITERAL PREFIX
        (chars before the first ``*``/``?``) bounds the read to its
        [prefix, successor) range, so row-group min/max pruning still
        applies — the cost model of Lucene's WildcardQuery, where a
        leading wildcard forces a full term scan (we accept it too,
        cap-bounded). Regexps read the whole dictionary like Lucene
        RegexpQuery. The terms read are matched whole, in the RE2
        dialect (``pc.match_substring_regex`` on ``^(?:rx)$``, as the
        DuckDB oracle's ``regexp_full_match``); a pattern RE2 rejects
        raises ``ValueError``. Cap keeps the clause bounded: df desc,
        term asc (the prefix rule)."""
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        if kind == "wild":
            rx = "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(c)
                for c in pattern
            )
            lit = re.match(r"[a-z0-9_]*", pattern).group(0)
        else:
            rx, lit = pattern, ""
        rx = f"^(?:{rx})$"
        try:  # compiled here, so a pattern fails even where no term is read
            pc.match_substring_regex(pa.scalar(""), rx)
        except pa.ArrowInvalid as exc:
            raise ValueError(f"bad pattern {pattern!r}: {exc}") from exc

        def read() -> pa.Table:
            dic = self._segments.dfs(term_prefix_filter(lit))
            return dic.filter(pc.match_substring_regex(dic["term"], rx))
        return self._expand(("w", kind, pattern, cap), read, self._BY_DF, cap)

    def _expansions(self, stem: str,
                    max_expansions: int | None) -> list[tuple[str, float]]:
        """(term, similarity) per dictionary expansion of a prefix, fuzzy
        or wildcard stem. A fuzzy expansion's similarity is Lucene
        FuzzyTermsEnum's boost ``1 - dist/min(|term|, |stem|)``; every
        other expansion's is 1."""
        if isinstance(stem, Fuzzy):
            return [(t, 1.0 - dist / min(len(t), len(stem))) for t, _, dist
                    in self.expand_fuzzy(stem, stem.max_edits, max_expansions)]
        if isinstance(stem, Wildcard):
            got = self.expand_wildcard(str(stem), stem.kind, max_expansions)
        else:
            got = self.expand_prefix(stem, max_expansions)
        return [(t, 1.0) for t, _ in got]

    def _plan_clauses(
        self, query: str, max_expansions: int | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> tuple[list[list[str]], int, list[str],
               list[list[str]], list[list[str]], dict[str, float]]:
        """Parse a query into CLAUSES: each literal term is one clause;
        each `stem*` prefix is ONE clause whose members are its (capped)
        dictionary expansions — so under min_should_match a prefix counts
        once no matter how many of its expansions a document matches
        (Lucene/ES clause semantics). ``-``-prefixed chunks build the
        MUST_NOT exclusion set (negated stems expand under the same
        cap); must_not clauses never count toward msm and never score.
        A ``"quoted"`` chunk is one PHRASE clause (match_phrase): kept
        only when every member term is indexed (a phrase with an absent
        term can't match), counting toward n_clauses either way; its
        negated form joins ``neg_phrases`` (must_not). Returns
        (clauses-with-df>0-members, n_clauses-before-df-filtering,
        exclusion terms, phrases, neg_phrases) — msm resolves against
        n_clauses, so an AND query with an unindexed literal or a
        no-match prefix is unsatisfiable, matching the literal-terms
        path."""
        mode = self.meta["tokenizer"]
        tok = TOKENIZERS[mode]
        literals, prefixes, neg_lit, neg_pre, phrases, neg_phrases = (
            parse_query(query, tok, phrase_tok=PHRASE_TOKENIZERS[mode])
        )
        # query-time synonyms (OpenSearch synonym filter): each entry
        # turns the literal's clause into a scoring-boolean GROUP whose
        # members share Lucene SynonymQuery's BLENDED statistics — every
        # member scores with idf(max df over the group), folded into the
        # per-term weight map as the ratio blended_idf/raw_idf (<= 1, so
        # WAND/MaxScore upper bounds stay admissible and no scorer tier
        # changes). Deliberate, documented divergence from Lucene's
        # SynonymQuery: members keep their OWN tf_norm (contributions
        # sum per member) instead of a merged-postings summed tf —
        # tf_norm is concave, a merged sum is not expressible in the
        # one-posting-scan-row-per-term model every tier shares. The
        # group counts ONCE toward min_should_match; `-term` exclusions
        # expand through the map too (analyzer symmetry).
        syn_map: dict[str, list[str]] = {}
        for src, alts in (synonyms or {}).items():
            key = tok(src.lower())
            out_alts = [a for alt in alts for a in tok(alt.lower())]
            if len(key) != 1:
                raise ValueError(
                    f"synonym source {src!r} must analyze to exactly one "
                    f"term (got {key})")
            syn_map[key[0]] = sorted(set(out_alts) - {key[0]})
        # a term reachable through several clauses scores ONCE with its
        # MAXIMAL weight (an unboosted literal = 1.0; `^B` scales its
        # chunk's clauses; fuzzy expansions additionally carry their
        # similarity boost) — deliberate divergence from Lucene's
        # per-clause summing, keeping one posting-scan row per term
        weights: dict[str, float] = {}

        def bump(t: str, w: float) -> None:
            weights[t] = max(weights.get(t, 0.0), w)

        lit_best: dict[str, float] = {}
        for t in literals:
            s = str(t)
            lit_best[s] = max(lit_best.get(s, 0.0),
                              getattr(t, "boost", 1.0))
        clauses: list[list[str]] = []
        syn_groups: list[tuple[list[str], float]] = []
        for t in sorted(lit_best):
            b = lit_best[t]
            alts = syn_map.get(t, [])
            if alts:
                members = [t] + alts
                clauses.append(members)
                # weights resolve after df resolution (blended idf)
                syn_groups.append((members, b))
            else:
                clauses.append([t])
                bump(t, b)

        def _dedup_stems(stems_in: list[str]) -> list[str]:
            # Fuzzy/Boosted subclass str, so a plain set would collapse
            # `foo*` with `foo~1` (equal text) — key by (text, budget,
            # boost)
            seen: dict[tuple[str, int, float], str] = {}
            for s in stems_in:
                seen.setdefault(
                    (str(s), getattr(s, "max_edits", -1),
                     getattr(s, "kind", ""), getattr(s, "boost", 1.0)), s,
                )
            return [seen[k] for k in sorted(seen)]

        for stem in _dedup_stems(prefixes):
            b = getattr(stem, "boost", 1.0)
            exp = self._expansions(stem, max_expansions)
            clauses.append([t for t, _ in exp])
            for t, sim in exp:
                bump(t, b * sim)
        negs: set[str] = set(neg_lit)
        for t in neg_lit:
            negs.update(syn_map.get(str(t), []))
        for stem in _dedup_stems(neg_pre):
            negs.update(t for t, _ in self._expansions(stem, max_expansions))
        n_clauses = len(clauses) + len(phrases)
        flat = sorted(
            {t for cl in clauses for t in cl} | negs
            | {t for ph in phrases for t in ph}
            | {t for ph in neg_phrases for t in ph}
        )
        df_map = self.resolve_df(flat)
        # synonym groups: blended statistics need the dfs — every live
        # member's weight is boost * idf(max group df) / idf(own df)
        n_docs = int(self.meta["n_docs"])
        for members, b in syn_groups:
            live = [m for m in members if df_map[m] > 0]
            if not live:
                continue
            blended = idf(n_docs, max(df_map[m] for m in live))
            for m in live:
                bump(m, b * blended / idf(n_docs, df_map[m]))
        boosts = {t: w for t, w in weights.items() if w != 1.0}
        kept = [
            [t for t in cl if df_map[t] > 0] for cl in clauses
        ]
        return (
            [cl for cl in kept if cl], n_clauses,
            sorted(t for t in negs if df_map[t] > 0),
            [ph for ph in phrases if all(df_map[t] > 0 for t in ph)],
            [ph for ph in neg_phrases if all(df_map[t] > 0 for t in ph)],
            boosts,
        )

    # local tier caps: fall back to the distributed path past this query
    # posting mass, and bound the driver-resident posting cache
    LOCAL_MAX_POSTINGS = 2_000_000
    LOCAL_CACHE_BYTES = 256 << 20

    def _sidecar_frame(self, shards: list[int]) -> pd.DataFrame:
        """The listed shards' sidecar rows — the scan frame's NULL-term
        rows — on the driver: one Spark job."""
        return self._scan.filter(scan_filter(shards)).select(
            "term", "shard", "base", "dl_bytes", "deleted").toPandas()

    def _load_local_sidecars(self, s_missing: list[int]) -> None:
        """Pull the listed shards' sidecars (doclens and deleted ids) to
        the driver and refresh the merged deleted-id union. Sidecar arrays
        count against the SAME budget as the postings: at 10^12 docs the
        per-shard doclen arrays alone are GBs — an unaccounted sidecar
        cache would make LOCAL_CACHE_BYTES a fiction."""
        if not s_missing:
            return
        side = self._sidecar_frame(s_missing)
        for shard in s_missing:
            base, dl, deleted = _sidecar_of(side[side["shard"] == shard], shard)
            self._local_side[shard] = (base, vbyte_decode(dl).astype(np.float64), deleted)
            self._local_bytes += _nbytes(self._local_side[shard])
        self._local_deleted = _doc_union(
            d for _, _, d in self._local_side.values())

    def _cache_local(self, terms: list[str], pos_terms: set[str]) -> None:
        """Make ``terms``' decoded postings driver-resident. The missing
        ones — and any of ``pos_terms`` cached without positions — come
        from one point read: per (term, shard) generation-merge, shard-
        ordered concat, flat (docs, tfs, dls, positions | None) per
        term. Past LOCAL_CACHE_BYTES the cache is evicted down to this
        query's working set: its terms and the sidecars of the shards
        they touch."""
        cache = self._local_postings
        missing = sorted({t for t in terms if t not in cache
                          or (t in pos_terms and cache[t][3] is None)})
        if not missing:
            return
        cols = ["term", "shard", "gen", "doc_bytes", "tf_bytes"]
        pos_terms = pos_terms & set(missing)
        if pos_terms:
            self._require_positions()
            cols.append("pos_bytes")
        rows = self._segments.read(term_point_filter(missing), cols)
        shard = rows["shard"].to_numpy()
        self._load_local_sidecars(sorted(
            set(shard.tolist()) - self._local_side.keys()))
        arrays = _posting_arrays(rows, bool(pos_terms))
        parts: dict[str, list] = {t: [] for t in missing}
        order = np.argsort(shard, kind="stable")  # shard order: deterministic
        cuts = np.flatnonzero(np.diff(shard[order])) + 1
        for sel in np.split(order, cuts) if order.size else ():
            base, dl_arr, _ = self._local_side[int(shard[sel[0]])]
            for t, (docs, tfs, pos) in _decode_group(
                    *(a if a is None else a[sel] for a in arrays), base,
                    pos_terms).items():
                parts[t].append((docs, tfs.astype(np.float64),
                                 dl_arr[docs - base], pos))
        empty = np.zeros(0, np.int64)
        for t in missing:
            v = tuple(None if col[0] is None else np.concatenate(col)
                      for col in zip(*parts[t] or [(
                          empty, np.zeros(0), np.zeros(0),
                          empty if t in pos_terms else None)]))
            self._local_bytes += _nbytes(v) - _nbytes(cache.get(t, ()))
            cache[t] = v
        if self._local_bytes > self.LOCAL_CACHE_BYTES:
            keep = set(terms)
            self._local_postings = {t: v for t, v in cache.items() if t in keep}
            width = int(self.meta["shard_width"])
            shards: set[int] = set()
            for docs, *_ in self._local_postings.values():
                shards.update(np.unique(docs // width).tolist())
            self._local_side = {sh: v for sh, v in self._local_side.items()
                                if sh in shards}
            self._local_deleted = _doc_union(
                d for _, _, d in self._local_side.values())
            self._local_bytes = sum(map(_nbytes, self._local_postings.values())) \
                + sum(map(_nbytes, self._local_side.values()))

    @_one_snapshot
    def topk_local(
        self,
        query: str,
        k: int = 10,
        scorer: str = "auto",
        max_postings: int | None = None,
        as_pandas: bool = False,
        min_should_match: int | str | None = None,
        max_expansions: int | None = None,
        search_after: tuple[float, int] | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame | pd.DataFrame:
        """Driver-local LATENCY TIER: identical scores to ``topk`` (the
        same clause evaluator, :func:`_evaluate`, on the same decoded
        bytes — parity-tested), but the warm path runs ZERO Spark jobs.
        Sandbox-scale warm single-query latency is ~0.4 s of pure job
        scheduling around a ~10 ms scorer kernel; this tier is the
        single-query answer the way ``topk_batch`` is the throughput
        answer.

        Scale honesty: per-term postings and per-shard doclen sidecars
        are pulled to the driver ON DEMAND and LRU-bounded
        (LOCAL_CACHE_BYTES). A query whose total posting mass exceeds
        ``max_postings`` (default LOCAL_MAX_POSTINGS) falls back to the
        distributed path — at 10^12 docs a stopword's postings are GBs
        and belong on executors; the selective queries a latency tier
        exists for stay MBs. A new term costs two driver-side point
        reads of the segment files and no Spark job: its df first, so
        the guard runs before any posting bytes are read, then its rows.
        Each reads only the row groups whose term range holds the term
        and decodes straight from the Arrow columns. Prefix, fuzzy,
        wildcard and regexp clauses expand through the same reader. Only
        a shard whose sidecar is not yet cached adds a Spark job.

        Under the cap the evaluator scores EXHAUSTIVELY over the cached
        flat per-term arrays, with a sparse accumulator: one slot per
        doc of the query's positive postings. ``scorer`` only routes
        the over-cap fallback.

        ``as_pandas=True`` returns the result as a pandas DataFrame
        directly — the natural shape for a driver-local tier (the
        default Spark-DataFrame return pays a local-relation round-trip
        that roughly doubles warm latency; values are identical)."""
        self._maybe_refresh()
        plan = self._query_plan(query, scorer, min_should_match,
                                max_expansions, synonyms, search_after)
        if plan is None:
            res = _empty_topk()
        else:
            need = sorted(set(plan.terms) | set(plan.negs))
            df_map = self.resolve_df(need)
            cap = self.LOCAL_MAX_POSTINGS if max_postings is None else max_postings
            # exclusion and phrase postings are pulled to the driver too —
            # they count against the same posting-mass guard
            if sum(df_map.values()) > cap:
                dist = self.topk(query, k, scorer, min_should_match=min_should_match,
                                 max_expansions=max_expansions,
                                 search_after=search_after, synonyms=synonyms)
                return dist.toPandas() if as_pandas else dist
            self._cache_local(need, {t for ph in plan.phrases + plan.neg_phrases
                                     for t in ph})
            weights, idfs = _term_weights(plan.terms, plan, df_map,
                                          int(self.meta["n_docs"]))
            res = _evaluate({t: self._local_postings[t] for t in need}, plan,
                            weights, idfs, float(self.meta["avgdl"]),
                            self._local_deleted, k)
        if as_pandas:
            return res.reset_index(drop=True)
        return self.spark.createDataFrame(res, TOPK_SCHEMA)

    def topk(
        self, query: str, k: int = 10, scorer: str = "auto",
        min_should_match: int | str | None = None,
        max_expansions: int | None = None,
        search_after: tuple[float, int] | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """``min_should_match``: require >= m of the query's CLAUSES per
        result doc (``"all"`` = pure AND; default/1 = OR). A literal
        term is one clause; a trailing-``*`` chunk is one PREFIX clause
        — expanded against the dictionary (df-ranked, capped at
        ``max_expansions``), scored as a scoring-boolean (each expansion
        contributes its own idf-weighted BM25), and counting ONCE toward
        the clause gate however many expansions match.

        ``scorer``: ``"auto"`` and ``"wand"`` run the pruning kernel —
        candidates come from the rarest clauses, the rest are probed
        only at candidate docs (block-lazy), and a candidate drops once
        its bound falls below the k-th score or its clause count cannot
        reach msm — which falls back to the exhaustive evaluator when
        nothing is skippable; ``"dense"`` forces the evaluator. Results
        are identical either way.

        ``search_after=(score, doc_id)`` is OpenSearch deep pagination:
        return the next k results STRICTLY AFTER the cursor in the
        (score desc, doc_id asc) total order — pass the previous page's
        last row. The cursor rides in the query plan to the exhaustive
        kernel, which drops every doc at or before it BEFORE its
        per-shard top-k cut, so each shard still emits only k rows and
        the cut stays exact.

        The returned frame's plan is filter -> mapInPandas ->
        TakeOrderedAndProject over the engine's cache: one Spark job,
        no exchange, and (since the cache is planned without AQE) no
        adaptive wrapper, so a warm call's driver cost is planning that
        one stage. A cold engine (``cache=False``) adds a shard exchange
        and plans it with AQE."""
        local = self._shard_scored([query], k, scorer, min_should_match,
                                   max_expansions, synonyms, search_after)
        if local is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return local.drop("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k)

    @_one_snapshot
    def explain(self, query: str, doc_id: int,
                min_should_match: int | str | None = None,
                max_expansions: int | None = None,
                synonyms: dict[str, list[str]] | None = None,
                ) -> pd.DataFrame:
        """Lucene-style explain: the per-clause score breakdown of ONE
        document under ``query`` — columns (clause, kind, tf, df, idf,
        weight, tf_norm, contribution); the doc's score is the
        contribution sum. An EMPTY frame means the doc does not match
        (msm unmet, tombstoned, or excluded by must_not — Lucene's
        "doesn't match" explanation).

        Cost: one Spark job collects the doc's shard sidecar, and one
        driver-side point read fetches the query's terms' rows, of
        which only the doc's shard's are decoded (a shard's per-term
        posting list is bounded by the shard width, the same driver
        budget the local tier already accepts) — explain is a debugging
        surface for single documents, never a bulk path."""
        self._maybe_refresh()
        clauses, n_clauses, negs, phrases, neg_phrases, boosts = (
            self._plan_clauses(query, max_expansions, synonyms)
        )
        msm = resolve_msm(min_should_match, n_clauses)
        terms = sorted({t for cl in clauses for t in cl})
        pterms = sorted(
            {t for ph in phrases for t in ph}
            | {t for ph in neg_phrases for t in ph}
        )
        cols = ["clause", "kind", "tf", "df", "idf", "weight",
                "tf_norm", "contribution"]
        empty = pd.DataFrame({c: [] for c in cols})
        if not terms and not phrases:
            return empty
        doc_id = int(doc_id)
        width = int(self.meta["shard_width"])
        shard = doc_id // width
        df_map = self.resolve_df(terms + pterms)
        n_docs, avgdl = int(self.meta["n_docs"]), float(self.meta["avgdl"])

        side = self._sidecar_frame([shard])
        if side.empty:
            return empty
        base, dl_bytes, deleted = _sidecar_of(side, shard)
        if deleted is not None and doc_id in deleted:
            return empty
        dl_arr = vbyte_decode(dl_bytes)
        off = doc_id - base
        if not 0 <= off < dl_arr.shape[0]:
            return empty
        dl = float(dl_arr[off])

        read_cols = ["term", "shard", "gen", "doc_bytes", "tf_bytes"]
        if pterms:
            self._require_positions()
            read_cols.append("pos_bytes")
        rows = self._segments.read(
            term_point_filter(set(terms) | set(negs) | set(pterms)), read_cols)
        postings = _decode_group(*_posting_arrays(
            rows.filter(pc.equal(rows["shard"], shard)), bool(pterms)),
            base, set(pterms))
        tf_of: dict[str, int] = {}
        for t, (docs, tfs, _) in postings.items():
            i = np.searchsorted(docs, doc_id)
            if i < docs.size and docs[i] == doc_id:
                tf_of[t] = int(tfs[i])

        if any(t in tf_of for t in negs):
            return empty

        def _phrase_freq_of(ph) -> int:
            arrs = []
            for t in ph:
                v = postings.get(t)
                if v is None or v[0].size == 0:
                    return 0
                arrs.append(v)
            pdocs, pfs = _phrase_freqs(arrs, slop=getattr(ph, "slop", 0))
            i = int(np.searchsorted(pdocs, doc_id))
            if i < pdocs.size and pdocs[i] == doc_id:
                return int(pfs[i])
            return 0

        if any(_phrase_freq_of(ph) for ph in neg_phrases):
            return empty
        out: list[tuple] = []
        matched_clauses = 0
        for cl in clauses:
            hit = [t for t in cl if t in tf_of]
            if hit:
                matched_clauses += 1
            for t in hit:
                w = boosts.get(t, 1.0)
                idf_t = idf(n_docs, df_map[t])
                tfn = bm25_tf_term(float(tf_of[t]), dl, avgdl)
                out.append((t, "term", tf_of[t], df_map[t], idf_t, w,
                            tfn, (idf_t * w) * tfn))
        for ph in phrases:
            pf = _phrase_freq_of(ph)
            if pf == 0:
                continue
            matched_clauses += 1
            w_idf = sum(idf(n_docs, df_map[t]) for t in ph)
            b = getattr(ph, "boost", 1.0)
            tfn = bm25_tf_term(float(pf), dl, avgdl)
            out.append((" ".join(ph), "phrase", pf, 0, w_idf, b, tfn,
                        (b * w_idf) * tfn))
        if not out or matched_clauses < msm:
            return empty
        return pd.DataFrame(out, columns=cols)

    # Lucene MoreLikeThis defaults (MoreLikeThis.java): term selection
    # gates + query-size cap
    MLT_MAX_QUERY_TERMS = 25
    MLT_MIN_TERM_FREQ = 2
    MLT_MIN_DOC_FREQ = 5

    def mlt_terms(
        self, text: str, max_query_terms: int | None = None,
        min_term_freq: int | None = None, min_doc_freq: int | None = None,
    ) -> list[str]:
        """Lucene MoreLikeThis term selection: re-analyze the LIKE text
        (same unified-highlighter rationale — no stored term vectors),
        keep terms with tf >= min_term_freq and index df >= min_doc_freq,
        rank by tf * idf desc (ties term asc), cap at max_query_terms.
        One driver-side point read resolves every candidate's df."""
        mq = self.MLT_MAX_QUERY_TERMS if max_query_terms is None else max_query_terms
        mtf = self.MLT_MIN_TERM_FREQ if min_term_freq is None else min_term_freq
        mdf = self.MLT_MIN_DOC_FREQ if min_doc_freq is None else min_doc_freq
        from data_prep_opensearch_spark.functions.tokenize import (
            term_frequencies,
        )

        tf = term_frequencies(text or "", self.meta["tokenizer"])
        cands = sorted(t for t, c in tf.items() if c >= mtf)
        if not cands:
            return []
        df_map = self.resolve_df(cands)
        n_docs = int(self.meta["n_docs"])
        ranked = sorted(
            ((t, tf[t] * idf(n_docs, df_map[t])) for t in cands
             if df_map[t] >= mdf),
            key=lambda x: (-x[1], x[0]),
        )
        return [t for t, _ in ranked[:mq]]

    def more_like_this(
        self, text: str, k: int = 10,
        exclude_doc_id: int | None = None,
        max_query_terms: int | None = None,
        min_term_freq: int | None = None, min_doc_freq: int | None = None,
        min_should_match: int | str | None = None,
    ) -> DataFrame:
        """Lucene/OpenSearch more_like_this: find docs similar to the
        LIKE ``text`` by searching its top tf*idf terms as an OR query
        (each selected term an ordinary BM25 clause). Pass the source
        doc's id as ``exclude_doc_id`` to drop it from the results (ES
        excludes the like-document the same way)."""
        terms = self.mlt_terms(text, max_query_terms, min_term_freq,
                               min_doc_freq)
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        kk = k if exclude_doc_id is None else k + 1
        out = self.topk(" ".join(terms), kk,
                        min_should_match=min_should_match)
        if exclude_doc_id is not None:
            out = (
                out.filter(F.col("doc_id") != int(exclude_doc_id))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            )
        return out

    def match_ids(
        self, query: str,
        min_should_match: int | str | None = None,
        max_expansions: int | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """ALL docIDs satisfying the boolean query — no top-k cut. This
        is the aggregation/facet entry point (OpenSearch runs its aggs
        over the full match set, not the hits page): the same clause
        semantics as ``topk`` (msm, prefix/fuzzy expansion, must_not,
        phrases, tombstones), but each shard emits every matching doc
        and nothing is globally sorted — the result stays
        distributed (one row per match, linear shuffle into whatever
        aggregation follows; never a driver collect)."""
        return self.match_scores(query, min_should_match,
                                 max_expansions, synonyms).select("doc_id")

    def match_scores(
        self, query: str,
        min_should_match: int | str | None = None,
        max_expansions: int | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """(doc_id, score) for EVERY doc satisfying the boolean query —
        ``match_ids`` plus the BM25 score, same full-emission kernel
        pass. This is the entry point for the search-body features that
        post-process the match set (bool.filter context, sort-by-field,
        function_score rescoring): scores are computed from index-wide
        statistics BEFORE any attribute filter, which is exactly the
        OpenSearch semantics (filter context never changes idf). Result
        stays distributed; shards are disjoint docID ranges so there
        are no cross-shard duplicates."""
        local = self._shard_scored([query], None, "dense", min_should_match,
                                   max_expansions, synonyms)
        if local is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return local.drop("query_id")

    def _query_plan(
        self, query: str, scorer: str,
        min_should_match: int | str | None, max_expansions: int | None,
        synonyms: dict[str, list[str]] | None,
        search_after: tuple[float, int] | None = None,
    ) -> _QueryPlan | None:
        """Plan one query's clauses once, on the driver. None when no doc
        can match: fewer surviving clauses than msm (incl. AND with an
        unindexed term or a no-match prefix), or a pure-negative query,
        which has no positive clause to generate candidates (Lucene bool
        with only must_not)."""
        clauses, n_clauses, negs, phrases, neg_phrases, boosts = (
            self._plan_clauses(query, max_expansions, synonyms)
        )
        msm = resolve_msm(min_should_match, n_clauses)
        terms = {t for cl in clauses for t in cl}
        if (not terms and not phrases) or len(clauses) + len(phrases) < msm:
            return None
        terms.update(t for ph in phrases + neg_phrases for t in ph)
        return _QueryPlan(sorted(terms), negs, scorer, msm, clauses,
                          phrases, neg_phrases, boosts, search_after)

    @_one_snapshot
    def _shard_scored(
        self, queries: list[str], k: int | None, scorer: str,
        min_should_match: int | str | None,
        max_expansions: int | None,
        synonyms: dict[str, list[str]] | None = None,
        search_after: tuple[float, int] | None = None,
    ) -> DataFrame | None:
        """The one distributed plan behind ``topk``, ``match_scores`` and
        ``topk_batch``: every query's terms union into one segment
        filter, and one per-shard loop (:func:`_score_group`) scores
        each (shard, query) pair, emitting (query_id, doc_id, score) —
        the shard's top-k per query after ``search_after``, or with
        ``k=None`` every matching doc (the exhaustive kernel touches the
        whole shard anyway, so 'all matches' costs the same pass). None
        when no query can match.

        Global df comes from ``resolve_df``, a driver-side point read
        that runs no Spark job, for warm and cold engines alike. The
        segment filter is ``scan_filter``: one SQL expression, one
        parser call whatever the number of terms, whose ``term``
        predicate reaches the scan as ``In``/``InSet``. A warm engine
        reads its cache, whose plan was made with AQE off, so a plan
        with no exchange of its own (``topk``, ``match_scores``) is not
        wrapped in AQE; the cold path's shard exchange keeps AQE."""
        self._maybe_refresh()
        plans = [self._query_plan(q, scorer, min_should_match,
                                  max_expansions, synonyms, search_after)
                 for q in queries]
        live = [p for p in plans if p is not None]
        if not live:
            return None
        n_docs, avgdl = int(self.meta["n_docs"]), float(self.meta["avgdl"])
        keff = (1 << 31) if k is None else k
        terms = {t for p in live for t in p.terms}
        rows = sorted(terms.union(*(p.negs for p in live)))
        df_map = self.resolve_df(rows)
        # only shards holding a positive term can score: only their rows
        # and sidecar rows cross into the workers
        touched = sorted(set().union(*(self._df_cache[t][1] for t in terms)))
        scan = (self._scan_positional() if any(p.phrases or p.neg_phrases
                                               for p in live) else self._scan)
        seg = scan.filter(scan_filter(touched, rows))
        if not self._shard_partitioned:
            # cold path: co-locate each shard's rows and sidecar row (the
            # filtered set is tiny, so this one exchange is cheap)
            seg = seg.repartition(F.col("shard"))

        def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # a shard's rows can span Arrow batches: consume the WHOLE
            # partition before grouping, else a doc's score splits across
            # partial term sets (top-k would then rank partial sums)
            chunks = list(batches)
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            for _, grp in pdf.groupby("shard"):
                yield from _score_group(grp, plans, df_map, n_docs, avgdl,
                                        keff)

        return seg.mapInPandas(score_partition, BATCH_TOPK_SCHEMA)

    def topk_batch(
        self, queries: list[str], k: int = 10, scorer: str = "auto",
        min_should_match: int | str | None = None,
        max_expansions: int | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Score a BATCH of queries in one scoring pass (returns
        (query_id, doc_id, score); query_id = position in ``queries``).

        Warm single-query latency on a small index is planning and
        job-scheduling bound: a warm ``topk`` (1 job) spends most of its
        CPU in the JVM, against ~25ms in the Python workers and ~15ms on
        the driver — batching amortizes the
        planning and scheduling: all queries' terms union into one
        segment filter, every (shard, query) pair scores inside the same
        mapInPandas pass (``_shard_scored``, the plan ``topk`` uses),
        and one window takes each query's top-k. Per-query results are
        IDENTICAL to ``topk`` (parity-tested). Queries with no indexed
        terms return no rows."""
        local = self._shard_scored(queries, k, scorer, min_should_match,
                                   max_expansions, synonyms)
        if local is None:
            return self.spark.createDataFrame([], BATCH_TOPK_SCHEMA)
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )


def query_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    scorer: str = "wand",
    min_should_match: int | str | None = None,
    max_expansions: int | None = None,
    search_after: tuple[float, int] | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """One-shot top-k BM25 (cold engine) — see BM25Engine for warm reuse."""
    return BM25Engine(spark, index_dir, cache=False).topk(
        query, k, scorer, min_should_match=min_should_match,
        max_expansions=max_expansions, search_after=search_after,
        synonyms=synonyms,
    )


# ---------------------------------------------------------------------------
# shard scorers (run inside mapInPandas; pure numpy/python on decoded arrays)
# ---------------------------------------------------------------------------

def _empty_topk() -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": pd.Series(dtype="int64"),
        "score": pd.Series(dtype="float64"),
    })


class _QueryPlan(NamedTuple):
    """One query's kernel inputs, planned once on the driver."""
    terms: list[str]          # positive rows read: clause + phrase terms
    negs: list[str]           # must_not terms
    scorer: str               # "auto" | "wand" | "dense"
    msm: int
    clauses: list[list[str]]
    phrases: list[Phrase]
    neg_phrases: list[Phrase]
    boosts: dict[str, float]  # per-term weights != 1.0
    after: tuple[float, int] | None = None  # search_after cursor


def _doc_union(arrays) -> np.ndarray:
    """Sorted union of doc-id arrays; None and empty arrays are skipped
    (a single array is returned as is)."""
    ps = [a for a in arrays if a is not None and a.size]
    if not ps:
        return np.zeros(0, dtype=np.int64)
    return ps[0] if len(ps) == 1 else np.unique(np.concatenate(ps))


def _nbytes(arrays) -> int:
    return sum(int(a.nbytes) for a in arrays if isinstance(a, np.ndarray))


def _term_weights(
    terms, plan: _QueryPlan, gdf: dict[str, int], n_docs: int,
) -> tuple[dict[str, float], dict[str, float]]:
    """(boosted weight, unboosted idf) per term; idf comes from the
    per-term GLOBAL df ``gdf``."""
    ir = {t: idf(n_docs, gdf[t]) for t in terms}
    return {t: w * plan.boosts.get(t, 1.0) for t, w in ir.items()}, ir


def _score_query(
    grp: pd.DataFrame, plan: _QueryPlan, gdf: dict[str, int], n_docs: int,
    avgdl: float, k: int, base: int, dl_bytes: bytes,
    deleted: np.ndarray | None,
) -> pd.DataFrame:
    """Kernel wrapper: one query's rows of one shard -> its top-k.

    Phrase and cursored plans, and ``scorer="dense"``, take the
    exhaustive evaluator; every other plan (``"auto"`` or ``"wand"``)
    takes the one pruning kernel, whose router falls back to the
    evaluator when nothing in the shard can be skipped. Both are exact,
    so the path never changes results."""
    im, ir = _term_weights(grp["term"].unique(), plan, gdf, n_docs)
    args = (grp, im, avgdl, k, base, dl_bytes, deleted, plan)
    if (plan.phrases or plan.neg_phrases or plan.after is not None
            or plan.scorer == "dense"):
        return _score_shard_dense(*args, ir)
    return _score_shard_pruned(*args)


def _score_group(
    grp: pd.DataFrame, plans: list[_QueryPlan | None], gdf: dict[str, int],
    n_docs: int, avgdl: float, k: int,
) -> Iterator[pd.DataFrame]:
    """One shard's rows (its sidecar row among them) -> (query_id, doc_id,
    score) per planned query; query_id = position in ``plans``.

    must_not docs ARE per-query tombstones, and every kernel honors
    ``deleted`` — so exclusion happens BEFORE top-k (a masked doc is
    replaced by the next-best, never dropped from a shorter result).
    The shard's exclusion postings are decoded ONCE for every query."""
    base, dl_bytes, deleted = _sidecar_of(grp, grp["shard"].iloc[0])
    all_negs = {t for p in plans if p is not None for t in p.negs}
    neg_docs: dict[str, np.ndarray] = {}
    if all_negs:
        neg_rows = grp[grp["term"].isin(all_negs)]
        if len(neg_rows):
            neg_docs = {t: d for t, (d, _, _) in
                        _decode_group(*_posting_arrays(neg_rows, False), base).items()
                        if d.size}
    for qi, plan in enumerate(plans):
        if plan is None:
            continue
        sub = grp[grp["term"].isin(plan.terms)]
        if sub.empty:
            continue
        del_q = _doc_union([deleted] + [neg_docs.get(t) for t in plan.negs])
        out = _score_query(sub, plan, gdf, n_docs, avgdl, k, base,
                           dl_bytes, del_q)
        if len(out):
            out.insert(0, "query_id", np.int32(qi))
            yield out


def _posting_arrays(frame, pos: bool) -> tuple:
    """:func:`_decode_group`'s column arrays from a pandas frame or an
    Arrow table; ``pos_bytes`` only when ``pos``."""
    return (*(frame[c].to_numpy() for c in ("term", "gen", "doc_bytes", "tf_bytes")),
            frame["pos_bytes"].to_numpy() if pos else None)


def _decode_group(
    terms: np.ndarray, gens: np.ndarray, docs_b: np.ndarray,
    tfs_b: np.ndarray, pos_b: np.ndarray | None, base: int,
    pos_terms: set[str] | frozenset = frozenset(),
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray | None]]:
    """Decode (and merge across generations) each term's postings into
    (docs, tfs, positions), from one shard's rows as column arrays (see
    :func:`_posting_arrays`); positions are decoded only for
    ``pos_terms`` (phrase terms — the generation merge keeps them
    aligned via the token-run gather) and are None otherwise.
    Column arrays, not itertuples: materializing wide rows (two byte
    buffers + six block arrays) through pandas row objects measured
    ~0.7 ms per shard-group call — comparable to the scoring itself."""
    out: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray | None]] = {}
    for i in np.argsort(gens, kind="stable"):
        t = terms[i]
        docs, tfs = decode_posting_list(bytes(docs_b[i]), bytes(tfs_b[i]), base=base)
        if t not in pos_terms:
            if t in out:
                docs, tfs = merge_posting_runs([out[t][:2], (docs, tfs)])
            out[t] = (docs, tfs, None)
            continue
        if pos_b is None or pos_b[i] is None:
            raise ValueError(
                "phrase query over a segment without positions "
                "(index built with positions=False?)"
            )
        pos = decode_positions(bytes(pos_b[i]), tfs)
        if t in out:
            docs, tfs, pos = merge_posting_runs_with_pos(
                [out[t], (docs, tfs, pos)])
        out[t] = (docs, tfs, pos)
    return out


_POSK = np.int64(1) << np.int64(32)  # (doc-rank, position) composite key


def _phrase_freqs(
    arrays: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    slop: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact / ordered-proximity phrase matching over positional
    postings.

    ``arrays[i]`` = (sorted unique doc_ids, tfs, flat posting-major
    positions) for the i-th phrase term. Returns (docs, phrase_freq)
    for docs matching the phrase; freq counts DISTINCT start positions
    (sub-tokens sharing a position under the 'code' tokenizer can't
    double-count an occurrence).

    ``slop=0`` (exact): per term build (doc_rank * 2^32 + position - i)
    keys and intersect — the survivors are phrase start positions.
    ``slop>0`` (ordered window, :class:`Phrase` semantics): greedy
    chain extension — from each start, each next term takes its
    SMALLEST position strictly beyond the chain end (searchsorted on
    the term's sorted composite keys); greedy minimizes the final end,
    so a start matches iff its greedy chain's total gap is within
    ``slop``. Positions are < 2^32 and per-shard candidate counts
    < 2^31, so the composite key is exact. All-numpy either way.
    """
    empty = (np.zeros(0, np.int64), np.zeros(0, np.int64))
    cand = arrays[0][0]
    for d, _, _ in arrays[1:]:
        cand = cand[np.isin(cand, d, assume_unique=True)]
        if cand.size == 0:
            return empty
    if slop > 0:
        return _phrase_freqs_slop(arrays, cand, slop)
    surv: np.ndarray | None = None
    for i, (d, t, p) in enumerate(arrays):
        sel = np.flatnonzero(np.isin(d, cand, assume_unique=True))
        pos_sel = p[gather_token_runs(sel, t)]
        rank_tok = np.repeat(
            np.searchsorted(cand, d[sel]), t[sel]
        ).astype(np.int64)
        if i:
            ok = pos_sel >= i
            pos_sel, rank_tok = pos_sel[ok], rank_tok[ok]
        keys = np.unique(rank_tok * _POSK + (pos_sel - i))
        surv = keys if surv is None else surv[
            np.isin(surv, keys, assume_unique=True)
        ]
        if surv.size == 0:
            return empty
    pf = np.bincount((surv // _POSK).astype(np.int64), minlength=cand.size)
    nz = np.flatnonzero(pf)
    return cand[nz], pf[nz].astype(np.int64)


def _phrase_freqs_slop(
    arrays: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    cand: np.ndarray,
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Greedy ordered-chain matcher for ``slop > 0`` (see
    :func:`_phrase_freqs`). ``cand`` is the already-intersected doc set.
    """
    empty = (np.zeros(0, np.int64), np.zeros(0, np.int64))
    keyss: list[np.ndarray] = []
    for d, t, p in arrays:
        sel = np.flatnonzero(np.isin(d, cand, assume_unique=True))
        pos_sel = p[gather_token_runs(sel, t)]
        rank_tok = np.repeat(
            np.searchsorted(cand, d[sel]), t[sel]
        ).astype(np.int64)
        keys = rank_tok * _POSK + pos_sel
        keys.sort()
        keyss.append(keys)
    starts = np.unique(keyss[0])
    rank = starts // _POSK
    end = starts
    for keys in keyss[1:]:
        idx = np.searchsorted(keys, end + 1)
        valid = idx < keys.size
        nxt = keys[np.minimum(idx, keys.size - 1)]
        valid &= (nxt // _POSK) == rank
        starts, rank = starts[valid], rank[valid]
        end = nxt[valid]
        if starts.size == 0:
            return empty
    # same doc throughout, so end - start == pos_n - pos_1 exactly
    ok = (end - starts) - (len(arrays) - 1) <= slop
    rank = rank[ok]
    if rank.size == 0:
        return empty
    pf = np.bincount(rank.astype(np.int64), minlength=cand.size)
    nz = np.flatnonzero(pf)
    return cand[nz], pf[nz].astype(np.int64)


def _evaluate(
    postings: dict[str, tuple], plan: _QueryPlan,
    weights: dict[str, float], phrase_idf: dict[str, float], avgdl: float,
    excluded: np.ndarray | None, k: int, base: int | None = None,
    size: int = 0,
) -> pd.DataFrame:
    """The one clause evaluator: ``postings`` maps terms to decoded
    (docs, float tfs, dls, positions | None); returns the top-k (doc_id,
    score) matches in (score desc, doc_id asc) order.

    Accumulate, then select. The callers differ only in how a doc maps
    to an accumulator slot. A shard passes ``base`` and ``size``: its
    docs are a contiguous range, so slot = doc - base (a dense array).
    The driver-local tier passes neither: slots index the sorted union
    of the query's positive docs (a sparse accumulator for a candidate
    set far smaller than the corpus). Both maps keep doc order, so slot
    order breaks score ties by docID.

    - Clause members add ``weights[t] * tf_term(tf, dl)``. A term that
      appears only inside a phrase does not score, and a term shared by
      several clauses scores ONCE with its folded max weight (the
      ``_plan_clauses`` contract).
    - A doc matches when at least ``max(msm, 1)`` clauses match it; a
      clause (a prefix's expansions) counts once per doc however many
      members match. The count decides, never the score, so a clause
      weighted 0 (``term^0``) still matches.
    - Each phrase adds ``boost * (Σ phrase_idf of its terms) *
      tf_term(phrase_freq, dl)`` — Lucene's PhraseQuery weighting under
      BM25 — and counts as one clause. ``phrase_idf`` is UNBOOSTED:
      ``weights`` may carry fuzzy similarity boosts that must not leak
      into a phrase sharing a term.
    - Negative phrases, ``excluded`` (tombstones) and the docs of the
      plan's must_not terms found in ``postings`` unmatch; then the
      cursor ``plan.after`` drops every doc at or before it, before the
      top-k cut."""
    empty = np.zeros(0, dtype=np.int64)
    scored = {t for cl in plan.clauses for t in cl}
    terms = [t for t in sorted(scored & postings.keys())  # one summation order
             if postings[t][0].size]
    docs_t = [postings[t][0] for t in terms]
    space = None
    if base is None:
        # a phrase's docs are among its first term's
        space, s_all = np.unique(np.concatenate(
            docs_t + [postings[ph[0]][0] for ph in plan.phrases
                      if ph[0] in postings] + [empty]), return_inverse=True)
        size = space.size
    else:
        s_all = np.concatenate(docs_t + [empty]) - base
    s_all = s_all[:sum(d.size for d in docs_t)]  # term postings, term-major

    def slot(docs: np.ndarray) -> np.ndarray:
        return docs - base if space is None else np.searchsorted(space, docs)

    def slots_in(docs: np.ndarray) -> np.ndarray:
        # slots of the docs that have one (a must_not doc may not)
        s = slot(docs)
        ok = (s >= 0) & (s < size)
        if space is not None:
            ok[ok] = space[s[ok]] == docs[ok]
        return s[ok]

    # bincount adds in input order: each doc sums its terms in term order
    # (and returns ints when there are no terms)
    acc = np.bincount(s_all, minlength=size, weights=np.concatenate(
        [weights[t] * bm25_tf_term(postings[t][1], postings[t][2], avgdl)
         for t in terms] + [np.zeros(0)])).astype(np.float64, copy=False)
    s_cnt = s_all  # under plain OR any clause posting matches
    if plan.msm > 1:
        slots = dict(zip(terms, np.split(
            s_all, np.cumsum([d.size for d in docs_t])[:-1])))
        per_clause = [[slots[t] for t in cl if t in slots]
                      for cl in plan.clauses]
        s_cnt = np.concatenate([
            ss[0] if len(ss) == 1 else np.unique(np.concatenate(ss))
            for ss in per_clause if ss] + [empty])
    cnt = np.bincount(s_cnt, minlength=size)
    # positive phrases first: a negative phrase's mask must win
    for i, ph in enumerate(plan.phrases + plan.neg_phrases):
        arrs = [postings.get(t) for t in ph]
        if any(v is None or v[0].size == 0 for v in arrs):
            continue
        pdocs, pf = _phrase_freqs(
            [(d, tf.astype(np.int64), pos) for d, tf, _, pos in arrs],
            slop=getattr(ph, "slop", 0))
        if i >= len(plan.phrases):
            cnt[slots_in(pdocs)] = 0
            continue
        s = slot(pdocs)
        d0, _, dl0, _ = arrs[0]
        w = getattr(ph, "boost", 1.0) * sum(phrase_idf[t] for t in ph)
        acc[s] += w * bm25_tf_term(pf, dl0[np.searchsorted(d0, pdocs)], avgdl)
        cnt[s] += 1
    for docs in [excluded] + [postings[t][0] for t in plan.negs if t in postings]:
        if docs is not None and docs.size:
            cnt[slots_in(docs)] = 0
    hit = np.flatnonzero(cnt >= max(plan.msm, 1))
    docs = hit + base if space is None else space[hit]
    scores = acc[hit]
    if plan.after is not None:
        s_a, d_a = float(plan.after[0]), int(plan.after[1])
        keep = (scores < s_a) | ((scores == s_a) & (docs > d_a))
        docs, scores = docs[keep], scores[keep]
    sel = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame({
        "doc_id": docs[sel].astype("int64"),
        "score": scores[sel],
    })


def _score_shard_dense(
    grp: pd.DataFrame, idf_map: dict[str, float], avgdl: float, k: int,
    base: int, dl_bytes: bytes, deleted: np.ndarray | None,
    plan: _QueryPlan, phrase_idf: dict[str, float] | None = None,
) -> pd.DataFrame:
    """The exhaustive shard kernel every query shape can take: decode
    the shard's rows and run :func:`_evaluate` over the shard's
    contiguous docID range (shards ARE docID ranges by construction)."""
    pos_terms = {t for ph in plan.phrases + plan.neg_phrases for t in ph}
    postings = _decode_group(*_posting_arrays(
        grp, bool(pos_terms) and "pos_bytes" in grp.columns), base, pos_terms)
    dl_arr = vbyte_decode(dl_bytes).astype(np.float64)
    return _evaluate(
        {t: (docs, tfs.astype(np.float64), dl_arr[docs - base], pos)
         for t, (docs, tfs, pos) in postings.items()},
        plan, idf_map, phrase_idf or idf_map, avgdl, deleted, k, base,
        dl_arr.shape[0])


class _LazyTermPostings:
    """Per-(term, shard) postings with BLOCK-LEVEL LAZY DECODE: a term's
    bytes are only decoded for the blocks a candidate set actually
    touches (per-block byte offsets + the stored block_first anchor make
    any block independently decodable). A term with multiple generation
    rows (transient, pre-merge) falls back to eager decode+merge so
    last-wins semantics stay exact."""

    __slots__ = ("base", "first", "last", "doc_off", "tf_off",
                 "doc_bytes", "tf_bytes", "_full", "_blocks")

    def __init__(self, rows: list[dict], base: int) -> None:
        self.base = base
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        r = rows[0]
        if len(rows) == 1 and r.get("block_doc_off") is not None:
            self.first = np.asarray(r["block_first"], dtype=np.int64)
            self.last = np.asarray(r["block_last"], dtype=np.int64)
            self.doc_bytes = bytes(r["doc_bytes"])
            self.tf_bytes = bytes(r["tf_bytes"])
            self.doc_off = np.asarray(r["block_doc_off"], dtype=np.int64)
            self.tf_off = np.asarray(r["block_tf_off"], dtype=np.int64)
        else:
            runs = [
                decode_posting_list(bytes(row["doc_bytes"]), bytes(row["tf_bytes"]),
                                    base=base)
                for row in sorted(rows, key=lambda x: x["gen"])
            ]
            self._full = merge_posting_runs(runs)

    def full(self) -> tuple[np.ndarray, np.ndarray]:
        if self._full is None:
            self._full = decode_posting_list(
                self.doc_bytes, self.tf_bytes, base=self.base
            )
        return self._full

    def _block(self, b: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._blocks.get(b)
        if got is None:
            d_end = int(self.doc_off[b + 1]) if b + 1 < self.doc_off.size else len(self.doc_bytes)
            t_end = int(self.tf_off[b + 1]) if b + 1 < self.tf_off.size else len(self.tf_bytes)
            got = decode_posting_block(
                self.doc_bytes, self.tf_bytes,
                int(self.doc_off[b]), d_end, int(self.tf_off[b]), t_end,
                int(self.first[b]),
            )
            self._blocks[b] = got
        return got

    def tf_at(self, cands: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(tf float64 aligned to cands, hit mask) decoding only the
        blocks whose [first, last] ranges cover a candidate."""
        if self._full is not None:
            docs, tfs = self._full
        else:
            bidx = np.searchsorted(self.last, cands)
            safe = np.minimum(bidx, self.first.size - 1) if self.first.size else bidx
            valid = (bidx < self.first.size)
            if self.first.size:
                valid &= self.first[safe] <= cands
            needed = np.unique(bidx[valid])
            if needed.size == 0:
                z = np.zeros(cands.size)
                return z, np.zeros(cands.size, dtype=bool)
            parts = [self._block(int(b)) for b in needed]
            docs = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
        if docs.size == 0:
            z = np.zeros(cands.size)
            return z, np.zeros(cands.size, dtype=bool)
        pos = np.searchsorted(docs, cands)
        safe = np.minimum(pos, docs.size - 1)
        hit = (pos < docs.size) & (docs[safe] == cands)
        return tfs[safe].astype(np.float64), hit


def _lazy_postings(grp: pd.DataFrame, base: int) -> dict[str, _LazyTermPostings]:
    """A shard group's rows as block-lazy postings per term (one row
    per generation; column-array access, as in :func:`_decode_group`)."""
    cols = {c: grp[c].to_numpy() for c in (
        "gen", "doc_bytes", "tf_bytes", "block_first", "block_last")}
    has_offs = "block_doc_off" in grp.columns
    if has_offs:
        cols["block_doc_off"] = grp["block_doc_off"].to_numpy()
        cols["block_tf_off"] = grp["block_tf_off"].to_numpy()
    by_term: dict[str, list[dict]] = {}
    for i, t in enumerate(grp["term"].to_numpy()):
        row = {c: v[i] for c, v in cols.items()}
        if not has_offs:
            row["block_doc_off"] = None
        by_term.setdefault(t, []).append(row)
    return {t: _LazyTermPostings(rows, base) for t, rows in by_term.items()}


def _shard_bounds(
    grp: pd.DataFrame, weights: dict[str, float], avgdl: float,
) -> tuple[dict[str, int], dict[str, float]]:
    """Per term, from block metadata alone (no posting decode): its df
    in the shard, summed over generations, and an upper bound of its
    contribution to any doc's score — ``weights[t]`` times the largest
    block ``tf_term(block max tf, block min dl)`` (tf_term rises with tf
    and falls with dl). A row without block metadata is bounded by
    tf_term's supremum, k1 + 1."""
    df: dict[str, int] = {}
    ub: dict[str, float] = {}
    for t, d, mt, md in zip(grp["term"].to_numpy(), grp["df"].to_numpy(),
                            grp["block_max_tf"].to_numpy(),
                            grp["block_min_dl"].to_numpy()):
        mt = np.asarray(mt, dtype=np.float64)
        b = K1 + 1.0 if mt.size == 0 else float(np.max(bm25_tf_term(
            mt, np.maximum(np.asarray(md, dtype=np.float64), 1.0), avgdl)))
        df[t] = df.get(t, 0) + int(d)
        ub[t] = max(ub.get(t, 0.0), weights[t] * b)
    return df, ub


# Pruning pays for its per-candidate block probes only when the postings
# it skips outweigh the ones it decodes by this factor (measured: at 2x,
# an 8-term mid-df OR query ran the candidate path 2.2x slower than the
# dense accumulator).
_SKIP_MARGIN = 8.0
# Bounds and running candidate sums add in another order than the
# canonical (term-sorted) scores, so they may differ from them by a few
# ulps: a doc is dropped only when its bound is below the pooled k-th
# score by more than this relative margin.
_BOUND_SLACK = 1e-9


def _route(
    clauses: list[list[str]], df: dict[str, int], ub: dict[str, float],
    msm: int, k: int,
) -> tuple[list[tuple[list[str], int, float]], bool]:
    """The pruning kernel's ONE COST ROUTER, run before any decode on
    the shard's df and block bounds alone. Returns the visit of
    ``clauses`` (in order) as steps — (the terms first decoded there,
    the clauses still open, the bound of the unvisited terms) — and
    whether pruning pays.

    It replays the visit up to the first clause where the kernel must
    stop (fewer open clauses than msm) or is expected to (a prefix of k
    or more docs whose bounds are over twice the unvisited ones'), and
    prunes only when the postings past that clause outweigh those before
    it by ``_SKIP_MARGIN``; otherwise nothing is worth skipping."""
    steps: list[tuple[list[str], int, float]] = []
    visited: set[str] = set()
    total_ub, decoded, stop = sum(ub.values()), 0, None
    for i, cl in enumerate(clauses):
        n_open = sum(not visited.issuperset(c) for c in clauses[i:])
        bound = sum(u for t, u in ub.items() if t not in visited)
        if stop is None and (n_open < msm or (
                decoded >= k and bound < 0.5 * (total_ub - bound))):
            stop = decoded
        new = [t for t in cl if t not in visited]
        steps.append((new, n_open, bound))
        visited.update(new)
        decoded += sum(df[t] for t in new)
    return steps, stop is not None and decoded - stop > _SKIP_MARGIN * stop


def _score_shard_pruned(
    grp: pd.DataFrame, weights: dict[str, float], avgdl: float, k: int,
    base: int, dl_bytes: bytes, deleted: np.ndarray | None,
    plan: _QueryPlan,
) -> pd.DataFrame:
    """The one pruning kernel, for every phrase-free uncursored query:
    exact top-k by an essential / non-essential clause split with
    block-level lazy decode (MaxScore, Turtle & Flood '95, over the block
    bounds of Ding & Suel, SIGIR '11; its count gate is pigeonhole msm).

    Clauses are visited rarest first (under OR every term is its own
    clause). A visited clause is ESSENTIAL: its postings are fully
    decoded, and its docs no earlier clause held are the new candidates.
    Each candidate probes only the terms of later clauses, through
    ``_LazyTermPostings.tf_at`` (decoding just the blocks it falls in),
    and is dropped as soon as it provably cannot make the result:
      - MaxScore: its score plus the bounds of its unprobed terms is
        below the pooled k-th score;
      - pigeonhole: its matched clauses plus the clauses with a member
        still unprobed are fewer than msm.
    The visit stops at the first clause from which no unseen doc can
    make the result, by the same two tests: the unvisited terms' bounds
    sum below the k-th score, or fewer than msm clauses keep an
    unvisited member (a doc outside the first n - msm + 1 clauses can
    match at most msm - 1). Those clauses are NON-ESSENTIAL: never bulk-
    decoded, so a needle under AND or OR with stopwords decodes only
    the stopwords' blocks its candidates fall in.

    Matching is the per-clause count ``_evaluate`` uses — a clause counts
    once however many members match, and a term shared by clauses
    scores once — and each result's score is re-added in sorted term
    order, so results are bit-identical to ``_score_shard_dense``, which
    takes the shard when :func:`_route` finds nothing worth skipping."""
    msm = max(plan.msm, 1)
    df, ub = _shard_bounds(grp, weights, avgdl)
    clauses = [[t] for t in df] if msm == 1 else [
        m for m in ([t for t in cl if t in df] for cl in plan.clauses) if m]
    clauses.sort(key=lambda cl: (sum(df[t] for t in cl), cl))
    steps, prune = _route(clauses, df, ub, msm, k)
    if not prune:
        return _score_shard_dense(grp, weights, avgdl, k, base, dl_bytes,
                                  deleted, plan)

    lazies = _lazy_postings(grp, base)
    dl_arr = vbyte_decode(dl_bytes).astype(np.float64)
    pool_d = seen = np.zeros(0, dtype=np.int64)
    pool_s = np.zeros(0)
    cut = -math.inf  # the pooled k-th score, less the slack
    visited: set[str] = set()
    for i, (new, n_open, bound) in enumerate(steps):
        if n_open < msm or bound < cut:
            break
        docs_i = _doc_union([lazies[t].full()[0] for t in new])
        cand = docs_i[~np.isin(docs_i, seen, assume_unique=True)] \
            if seen.size else docs_i
        seen = _doc_union([seen, docs_i])
        if deleted is not None and deleted.size:
            cand = cand[~np.isin(cand, deleted)]
        # the later clauses a candidate can still match, as their members
        # outside the visited clauses (a candidate holds none of those)
        later = [m for m in ([t for t in c if t not in visited]
                             for c in clauses[i + 1:]) if m]
        visited.update(new)
        probe = list(dict.fromkeys(
            t for c in later for t in c if t not in visited))
        if not cand.size:
            continue
        order = new + probe
        rem = np.append(np.cumsum([ub[t] for t in order][::-1])[::-1], 0.0)
        # under OR a candidate's own clause already matches it
        pend = later if msm > 1 else []
        todo = np.array([len(c) for c in pend], dtype=int)  # members unread
        m0 = cand.size
        idx, sc, dl = np.arange(m0), np.zeros(m0), dl_arr[cand - base]
        matched = np.zeros((len(pend), m0), dtype=bool)
        parts = []  # (term, batch positions, contributions)
        for j in range(len(order) + 1):
            if j >= len(new):  # new terms read: gate before each probe
                alive = sc + rem[j] >= cut
                alive &= 1 + (matched | (todo > 0)[:, None]).sum(0) >= msm
                if not alive.all():
                    cand, idx, sc, dl = cand[alive], idx[alive], sc[alive], dl[alive]
                    matched = matched[:, alive]
                if j == len(order) or not cand.size:
                    break
            t = order[j]
            vals, hit = lazies[t].tf_at(cand)
            c = weights[t] * bm25_tf_term(vals[hit], dl[hit], avgdl)
            sc[hit] += c
            parts.append((t, idx[hit], c))
            for r, cl in enumerate(pend):
                if t in cl:
                    matched[r] |= hit
                    todo[r] -= 1
        if cand.size:
            acc = np.zeros(m0)
            for _, pos, c in sorted(parts, key=lambda p: p[0]):
                acc[pos] += c
            pool_d = np.concatenate((pool_d, cand))
            pool_s = np.concatenate((pool_s, acc[idx]))
            if 0 < k <= pool_s.size:
                kth = np.partition(pool_s, pool_s.size - k)[pool_s.size - k]
                keep = pool_s >= kth
                pool_d, pool_s = pool_d[keep], pool_s[keep]
                cut = kth - _BOUND_SLACK * kth
    sel = np.lexsort((pool_d, -pool_s))[:k]
    return pd.DataFrame({"doc_id": pool_d[sel], "score": pool_s[sel]})
