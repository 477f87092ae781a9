"""BM25 scoring + the top-k query engine (exhaustive and block-max WAND).

Scoring constants and formula live HERE and only here — oracle, engine,
and SQL generator all import them, guaranteeing score parity
(SURVEY.md §7.3 "Rank-identical BM25").

  idf(t)   = ln( (N - df + 0.5) / (df + 0.5) + 1 )           (Lucene form)
  score(d) = Σ_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

All floats are float64; top-k ties broken by ascending docID.

Query plan shape (the engine's second entry point, SURVEY.md §3.3):
  1. analyze query -> terms (same tokenizer as the build)
  2. dictionary semi-join: segment scan FILTERED on term — Catalyst pushes
     ``term IN (...)`` into the parquet scan (term is the leading sort key
     of segment files, so row-group min/max stats prune aggressively).
  3. global df per term: tiny agg collected to the driver = the broadcast
     dictionary step (X10 in SURVEY.md §4).
  4. join the per-shard doclen sidecar (small, broadcast).
  5. per-shard scoring in mapInPandas: decode + one exhaustive dense
     kernel, or its exact pruning specializations (block-max WAND for
     OR queries, pigeonhole for msm) -> local top-k per shard.
  6. final top-k: orderBy(score desc, doc_id asc).limit(k) — Spark's
     TakeOrderedAndProject does the partial/final merge.
"""

from __future__ import annotations

import json
import math
import os
import re
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from data_prep_opensearch_spark.functions.tokenize import (
    PHRASE_TOKENIZERS,
    TOKENIZERS,
)
from data_prep_opensearch_spark.operators.postings import (
    decode_positions,
    decode_posting_block,
    decode_posting_list,
    gather_token_runs,
    merge_posting_runs,
    merge_posting_runs_with_pos,
    vbyte_decode,
)

K1 = 1.2
B = 0.75


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_tf_term(tf, dl, avgdl: float):
    """Vectorized tf normalization — works on numpy arrays or scalars."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * (dl / avgdl)))


def bm25_upper_bound(idf_t: float, max_tf: int, min_dl: int, avgdl: float) -> float:
    """Block upper bound: BM25 tf-term is increasing in tf, decreasing in dl."""
    return idf_t * bm25_tf_term(float(max_tf), float(min_dl), avgdl)


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
    oblivious); :meth:`BM25Engine._plan_clauses` dispatches on the type.
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
    ``kind='re'`` is a Lucene RegexpQuery body (implicitly anchored).
    Subclasses ``str`` so it travels the same stem lists as prefix /
    fuzzy stems; ``_plan_clauses`` dispatches on the type."""

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
    ``ValueError``, as Lucene rejects them). A chunk with ``*``/``?`` anywhere but the pure-trailing position is
    a WILDCARD clause (Lucene WildcardQuery: ``*`` any run, ``?`` one
    char), and ``/body/`` is a REGEXP clause (Lucene RegexpQuery,
    implicitly anchored) — both expand against the dictionary under the
    same df-ranked cap as prefixes and score as one scoring-boolean
    clause. A chunk starting
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


def bm25_sql_score_expr(tf: str, dl: str, df: str, n: str, avgdl: str) -> str:
    """ANSI-SQL BM25 fragment, valid in both Spark SQL and DuckDB."""
    return (
        f"ln(({n} - {df} + 0.5) / ({df} + 0.5) + 1.0) * "
        f"({tf} * ({K1} + 1.0)) / ({tf} + {K1} * (1.0 - {B} + {B} * ({dl} / {avgdl})))"
    )


TOPK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

BATCH_TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def _sidecar_of(grp: pd.DataFrame) -> tuple[int, bytes, np.ndarray | None]:
    """(base, dl_bytes, deleted) from a shard group's joined sidecar
    columns (identical on every row of the group — read once)."""
    first = grp.iloc[0]
    del_val = first["deleted"]
    deleted = (
        None
        if del_val is None or (isinstance(del_val, float) and pd.isna(del_val))
        else np.asarray(del_val, dtype=np.int64)
    )
    return int(first["base"]), bytes(first["dl_bytes"]), deleted


def load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


class BM25Engine:
    """Warm query engine. Init loads, once:
      - the term dictionary (term -> global df) into driver memory (tiny:
        one row per term; at web scale this becomes its own filtered-read
        table — the broadcast-dictionary step X10 of SURVEY.md §4),
      - segments CACHED pre-partitioned by shard (so a query is filter +
        mapInPandas with NO shuffle),
      - the per-shard (doclen, masked-ids) sidecar as a one-row-per-shard
        DataFrame cached CO-PARTITIONED with the segments — queries join
        it by shard with no exchange and no driver transit.
    A warm query is then exactly ONE Spark job:
      filter(term IN ...) -> colocated sidecar join -> per-shard
      top-k -> TakeOrderedAndProject.

    ``topk``, ``match_scores`` and ``topk_batch`` plan through one
    ``_shard_scored``. Per shard, every query runs ONE exhaustive kernel
    (``_score_shard_dense``: a dense accumulator covering terms,
    phrases, msm and must_not) or one of its exact pruning
    specializations — block-max WAND/MaxScore for OR queries
    (``_score_shard_wand``) and pigeonhole candidates for msm
    (``_score_shard_msm``); both fall back to the dense kernel when
    nothing is skippable.
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
        bytes and masked-id arrays NEVER transit the driver. They form a
        one-row-per-shard DataFrame, cached co-partitioned with the
        segment table on ``shard``, and joined onto the filtered segment
        rows at query time — a colocated join (both sides hash-
        partitioned on shard, no exchange). At 10^12 docs (thousands of
        shards × ~MB of dl_bytes each) the round-2 collect+broadcast was
        GBs through the driver; this path is one shuffle at init and
        zero at query time.

        Staleness discipline (round-4 review item): every public query
        entry point stats the index's commit artifacts first
        (_index_token: manifest.json + meta.json + tombstones dir) and
        on ANY change unpersists and reloads — so an engine held across
        an add/delete/merge by the same or another process serves
        post-mutation results from every tier (distributed, batch, and
        the driver-local cache) without a manual flush. Cost per query:
        three os.stat calls."""
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
        mutation path lands in at least one of these: add/merge/vacuum
        publish manifest.json (and refresh meta.json); delete_documents
        appends a file under tombstones/ (bumping the dir mtime)."""
        d = self.index_dir
        return (
            self._stat_sig(os.path.join(d, "manifest.json")),
            self._stat_sig(os.path.join(d, "meta.json")),
            self._stat_sig(os.path.join(d, "tombstones")),
        )

    def _maybe_refresh(self) -> None:
        if self._index_token() != self._token:
            self.unpersist()
            self._load()

    def _load(self) -> None:
        from data_prep_opensearch_spark.operators.incremental import (
            masked_doc_ids_per_shard,
        )
        from data_prep_opensearch_spark.operators.manifest import (
            read_doclens,
            read_segments,
        )

        spark = self.spark
        index_dir = self.index_dir
        cache = self._cache_req
        prune_superseded = self._prune_superseded
        self._token = self._index_token()
        self.meta = load_meta(index_dir)
        seg = read_segments(spark, index_dir)

        sidecar = read_doclens(spark, index_dir).select("shard", "base", "dl_bytes")
        masked = masked_doc_ids_per_shard(
            spark, index_dir, include_superseded=prune_superseded
        )
        if masked is not None:
            sidecar = sidecar.join(masked, "shard", "left")
        else:
            sidecar = sidecar.withColumn(
                "deleted", F.lit(None).cast(T.ArrayType(T.LongType()))
            )

        # the warm cache stays position-free: pos_bytes would roughly
        # double the cached footprint and only phrase queries read it.
        # A positional twin (self._seg_pos) is cached lazily on the
        # first phrase query.
        if "pos_bytes" in seg.columns:
            self._seg_all = seg
            seg = seg.drop("pos_bytes")
        else:
            self._seg_all = None
        self._seg_pos = None

        self._shard_partitioned = cache
        if cache:
            # one cached partition per CORE, not per shard: a shard-count
            # of partitions makes every warm query schedule n_shards
            # tasks (128-shard index on 32 cores = 4 waves of pure
            # scheduling overhead — measured 3x the warm p50). Multiple
            # shards hash into one partition; score_partition already
            # groups by shard within a partition. Sidecar uses the SAME
            # partitioner, so the per-query join stays exchange-free.
            n_part = min(
                max(spark.sparkContext.defaultParallelism, 1),
                self.meta["n_shards"],
            )
            self._n_part = n_part
            self.seg = seg.repartition(n_part, "shard").cache()
            self.seg.count()
            self.sidecar = sidecar.repartition(n_part, "shard").cache()
            self.sidecar.count()
        else:
            self.seg = seg
            self.sidecar = sidecar
        # term dictionary: resolved LAZILY per query via a `term IN (...)`
        # filtered aggregate over the (term-sorted) segment files — the
        # parquet scan prunes on term min/max stats, so this is a
        # dictionary-table point read, never a full-vocabulary collect
        # (the round-1 toPandas() pulled the whole vocab to the driver,
        # which cannot exist at 10^12 docs). Warm terms are cached.
        self._df_cache: dict[str, int] = {}
        # prefix-expansion cache: (stem, cap) -> [(term, df), ...]
        self._prefix_cache: dict[tuple[str, int], list[tuple[str, int]]] = {}
        # driver-local latency tier (topk_local): fully decoded per-term
        # posting arrays and per-shard sidecars, fetched on demand and
        # LRU-bounded
        self._local_flat: dict[
            str, tuple[np.ndarray, np.ndarray, np.ndarray]
        ] = {}
        self._local_side: dict[
            int, tuple[int, np.ndarray, np.ndarray | None]
        ] = {}
        self._local_deleted: np.ndarray = np.zeros(0, dtype=np.int64)
        self._local_bytes = 0
        # driver-local positional cache (phrase queries): term ->
        # (docs, tfs, dls, flat positions) spanning all shards/gens
        self._local_pos: dict[
            str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]
        ] = {}

    def unpersist(self) -> None:
        """Release the cached segment + sidecar partitions (blocking).
        A long-lived session that retires an engine must call this, or
        the storage-memory occupancy taxes every later job's GC — the
        r3 bench measured 3x walls on unrelated aggregation queries run
        after a 500k-doc engine was left cached in-session."""
        if self._shard_partitioned:
            self.seg.unpersist(blocking=True)
            self.sidecar.unpersist(blocking=True)
            if self._seg_pos is not None:
                self._seg_pos.unpersist(blocking=True)
        self._seg_pos = None
        self._df_cache.clear()
        self._prefix_cache.clear()
        self._local_flat.clear()
        self._local_pos.clear()
        self._local_side.clear()
        self._local_deleted = np.zeros(0, dtype=np.int64)
        self._local_bytes = 0

    def _seg_positional(self) -> DataFrame:
        """Segment scan INCLUDING pos_bytes, for phrase queries — cached
        lazily with the same shard partitioning as ``self.seg`` so its
        sidecar join stays exchange-free. Kept separate from the warm
        cache: positions roughly double the bytes and only phrase
        queries read them."""
        if not self.meta.get("positions"):
            raise ValueError(
                "phrase query requires an index built with positions=True "
                f"({self.index_dir} has none)"
            )
        if self._seg_pos is None:
            sp = self._seg_all
            if self._shard_partitioned:
                sp = sp.repartition(self._n_part, "shard").cache()
                sp.count()
            self._seg_pos = sp
        return self._seg_pos

    def resolve_df(self, terms: list[str]) -> dict[str, int]:
        """Global df per term (summed over shards/generations) via one tiny
        filtered-scan job for cache misses; absent terms resolve to 0."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = (
                self.seg.filter(F.col("term").isin(missing))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            if len(self._df_cache) > 4_000_000:  # bound driver memory
                self._df_cache.clear()
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    # Lucene-style default cap on multi-term expansion
    MAX_EXPANSIONS = 50

    def expand_prefix(
        self, stem: str, max_expansions: int | None = None
    ) -> list[tuple[str, int]]:
        """Expand a prefix stem against the index dictionary: one
        filtered-aggregate job over the TERM-SORTED segment files —
        `startswith` pushes to the parquet scan as a StringStartsWith
        filter, so row groups outside the stem's [stem, stem~) min/max
        range are pruned and this stays a dictionary point-read at any
        corpus size (never a vocabulary collect). The cap keeps the
        expanded clause bounded (Lucene's max_expansions): when a stem
        matches more terms, the HIGHEST-df expansions win (ties to the
        lexicographically first term) — the deterministic choice that
        retains the expansions with the most matches.
        Returns [(term, global_df), ...] df-desc; cached per stem until
        the next index mutation."""
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        key = (stem, cap)
        if key not in self._prefix_cache:
            rows = (
                self.seg.filter(F.col("term").startswith(stem))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(cap)
                .collect()
            )
            exp = [(r["term"], int(r["df"])) for r in rows]
            self._prefix_cache[key] = exp
            for t, d in exp:  # expansion dfs seed the term-df cache
                self._df_cache.setdefault(t, d)
        return self._prefix_cache[key]

    def expand_fuzzy(
        self, stem: str, max_edits: int,
        max_expansions: int | None = None, prefix_length: int = 0,
    ) -> list[tuple[str, int, int]]:
        """Expand a fuzzy stem (Lucene FuzzyQuery): dictionary terms
        within ``max_edits`` Levenshtein distance of ``stem``, as one
        filtered aggregate over the term-sorted segment files. The scan
        pre-filters on the length window (|len(term) - len(stem)| <=
        max_edits, a codegen'd JVM filter) and computes the distance
        with the thresholded built-in (early-exits past the budget);
        expansions whose similarity boost ``1 - dist/min(|term|,
        |stem|)`` is not positive are dropped (they would contribute
        nothing — arises only when max_edits reaches the shorter
        length). The cap keeps the clause bounded: distance-asc first
        (Lucene's closest-first rewrite), df desc, term asc.

        Scale note: unlike ``expand_prefix`` (whose StringStartsWith
        prunes row groups), a 0-prefix fuzzy scan reads the whole
        dictionary column — the same cost Lucene accepts for
        ``prefix_length=0``. Pass ``prefix_length >= 1`` to pin the
        first chars and restore min/max row-group pruning (the exact
        knob Lucene/ES expose for the same reason).

        Returns [(term, global_df, distance), ...]; cached per
        (stem, budget) until the next index mutation."""
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        key = ("~", stem, max_edits, cap, prefix_length)
        if key not in self._prefix_cache:
            cond = F.length("term").between(
                len(stem) - max_edits, len(stem) + max_edits
            )
            if prefix_length > 0:
                cond &= F.col("term").startswith(stem[:prefix_length])
            boost = 1.0 - F.col("dist") / F.least(
                F.length("term"), F.lit(len(stem))
            )
            rows = (
                self.seg.filter(cond)
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .withColumn(
                    "dist",
                    F.levenshtein(F.col("term"), F.lit(stem), max_edits),
                )
                .filter((F.col("dist") >= 0) & (boost > 0))
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
                .limit(cap)
                .collect()
            )
            exp = [(r["term"], int(r["df"]), int(r["dist"])) for r in rows]
            self._prefix_cache[key] = exp
            for t, d, _ in exp:
                self._df_cache.setdefault(t, d)
        return self._prefix_cache[key]

    def expand_wildcard(
        self, pattern: str, kind: str = "wild",
        max_expansions: int | None = None,
    ) -> list[tuple[str, int]]:
        """Expand a wildcard (``*``/``?``) or regexp stem against the
        dictionary: one filtered aggregate over the term-sorted segment
        files. A wildcard's LITERAL PREFIX (chars before the first
        ``*``/``?``) pins a ``startswith`` predicate so row-group
        min/max pruning still applies — the exact cost model of Lucene's
        WildcardQuery, where a leading wildcard forces a full term scan
        (we accept it too, cap-bounded). Regexps scan the whole
        dictionary column like Lucene RegexpQuery. Cap keeps the clause
        bounded: df desc, term asc (the prefix rule)."""
        cap = self.MAX_EXPANSIONS if max_expansions is None else max_expansions
        key = ("w", kind, pattern, cap)
        if key not in self._prefix_cache:
            if kind == "wild":
                rx = "".join(
                    ".*" if c == "*" else "." if c == "?" else re.escape(c)
                    for c in pattern
                )
                lit = re.match(r"[a-z0-9_]*", pattern).group(0)
            else:
                rx = pattern
                lit = ""
            try:
                re.compile(rx)
            except re.error as exc:
                raise ValueError(f"bad pattern {pattern!r}: {exc}") from None
            sc = self.seg.select("term", "df")
            if lit:
                sc = sc.filter(F.col("term").startswith(lit))
            rows = (
                sc.filter(F.col("term").rlike(f"^(?:{rx})$"))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(cap)
                .collect()
            )
            exp = [(r["term"], int(r["df"])) for r in rows]
            self._prefix_cache[key] = exp
            for t, d in exp:
                self._df_cache.setdefault(t, d)
        return self._prefix_cache[key]

    @staticmethod
    def _fuzzy_boost(term: str, stem: str, dist: int) -> float:
        """Lucene FuzzyTermsEnum similarity boost for an expansion."""
        return 1.0 - dist / min(len(term), len(stem))

    def _plan_clauses(
        self, query: str, max_expansions: int | None = None,
        synonyms: dict[str, list[str]] | None = None,
        resolve: bool = True,
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
            if isinstance(stem, Fuzzy):
                exp = self.expand_fuzzy(stem, stem.max_edits,
                                        max_expansions)
                clauses.append([t for t, _, _ in exp])
                for t, _, dist in exp:
                    bump(t, b * self._fuzzy_boost(t, stem, dist))
            elif isinstance(stem, Wildcard):
                exp_w = [t for t, _ in self.expand_wildcard(
                    str(stem), stem.kind, max_expansions)]
                clauses.append(exp_w)
                for t in exp_w:
                    bump(t, b)
            else:
                exp_p = [t for t, _ in
                         self.expand_prefix(stem, max_expansions)]
                clauses.append(exp_p)
                for t in exp_p:
                    bump(t, b)
        negs: set[str] = set(neg_lit)
        for t in neg_lit:
            negs.update(syn_map.get(str(t), []))
        for stem in _dedup_stems(neg_pre):
            if isinstance(stem, Fuzzy):
                negs.update(t for t, _, _ in self.expand_fuzzy(
                    stem, stem.max_edits, max_expansions))
            elif isinstance(stem, Wildcard):
                negs.update(t for t, _ in self.expand_wildcard(
                    str(stem), stem.kind, max_expansions))
            else:
                negs.update(t for t, _ in
                            self.expand_prefix(stem, max_expansions))
        n_clauses = len(clauses) + len(phrases)
        if not resolve and not syn_map:
            # df-free planning (the caller resolves idf IN the query plan
            # via a broadcast gdf join — see _shard_scored): clauses keep
            # their df=0 members, which is result-identical — an absent
            # term has no postings in any shard, so it never scores and
            # never satisfies a clause count; only synonym blending
            # genuinely needs driver-side dfs.
            boosts = {t: w for t, w in weights.items() if w != 1.0}
            return (
                [cl for cl in clauses if cl], n_clauses, sorted(negs),
                list(phrases), list(neg_phrases), boosts,
            )
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

    def _load_local_sidecars(self, s_missing: list[int]) -> None:
        """Pull the listed shards' doclen/tombstone sidecars to the driver
        and refresh the merged tombstone union. Sidecar arrays count
        against the SAME budget as the flat postings: at 10^12 docs the
        per-shard doclen arrays alone are GBs — an unaccounted sidecar
        cache would make LOCAL_CACHE_BYTES a fiction."""
        if not s_missing:
            return
        for r in self.sidecar.filter(F.col("shard").isin(s_missing)).collect():
            dd = r.asDict()
            deleted = (
                None if dd["deleted"] is None
                else np.asarray(dd["deleted"], dtype=np.int64)
            )
            dl_arr = vbyte_decode(bytes(dd["dl_bytes"])).astype(np.float64)
            self._local_side[int(dd["shard"])] = (
                int(dd["base"]), dl_arr, deleted
            )
            self._local_bytes += int(dl_arr.nbytes) + (
                int(deleted.nbytes) if deleted is not None else 0
            )
        dels = [d for _, _, d in self._local_side.values()
                if d is not None and d.size]
        self._local_deleted = (
            np.unique(np.concatenate(dels)) if dels
            else np.zeros(0, dtype=np.int64)
        )

    def _ensure_local_pos(self, pterms: list[str]) -> None:
        """Pull missing phrase terms' POSITIONAL postings to the driver:
        per (term, shard) generation-merge with positions, shard-ordered
        concat, flat (docs, tfs, dls, pos) arrays — the positional twin
        of ``_local_flat``, same budget."""
        missing = [t for t in pterms if t not in self._local_pos]
        if not missing:
            return
        if self._seg_all is None or not self.meta.get("positions"):
            raise ValueError(
                "phrase query requires an index built with positions=True "
                f"({self.index_dir} has none)"
            )
        rows = [
            r.asDict()
            for r in self._seg_all.filter(F.col("term").isin(missing))
            .select("term", "shard", "gen", "doc_bytes", "tf_bytes",
                    "pos_bytes").collect()
        ]
        self._load_local_sidecars(sorted(
            {int(d["shard"]) for d in rows} - self._local_side.keys()
        ))
        by_ts: dict[tuple, list[dict]] = {}
        for d in rows:
            by_ts.setdefault((d["term"], int(d["shard"])), []).append(d)
        parts: dict[str, list] = {t: [] for t in missing}
        for (t, shard), ds in by_ts.items():
            base, dl_arr, _ = self._local_side[shard]
            runs = []
            for d in sorted(ds, key=lambda d: int(d["gen"])):
                docs, tfs = decode_posting_list(
                    bytes(d["doc_bytes"]), bytes(d["tf_bytes"]), base=base
                )
                runs.append((docs, tfs,
                             decode_positions(bytes(d["pos_bytes"]), tfs)))
            docs, tfs, pos = (
                runs[0] if len(runs) == 1 else merge_posting_runs_with_pos(runs)
            )
            parts[t].append((shard, docs, tfs, dl_arr[docs - base], pos))
        size = 0
        for t in missing:
            ps = sorted(parts[t], key=lambda p: p[0])
            if ps:
                docs = np.concatenate([p[1] for p in ps])
                tfs = np.concatenate([p[2] for p in ps])
                dls = np.concatenate([p[3] for p in ps])
                pos = np.concatenate([p[4] for p in ps])
            else:
                docs = tfs = pos = np.zeros(0, dtype=np.int64)
                dls = np.zeros(0, dtype=np.float64)
            self._local_pos[t] = (docs, tfs, dls, pos)
            size += int(docs.nbytes + tfs.nbytes + dls.nbytes + pos.nbytes)
        self._local_bytes += size

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
        """Driver-local LATENCY TIER: identical scores to ``topk`` (same
        scorer kernels on the same decoded bytes — parity-tested), but
        the warm path runs ZERO Spark jobs. Sandbox-scale warm single-
        query latency is ~0.4 s of pure job scheduling around a ~10 ms
        scorer kernel; this tier is the single-query answer the way
        ``topk_batch`` is the throughput answer.

        Scale honesty: per-term postings and per-shard doclen sidecars
        are pulled to the driver ON DEMAND and LRU-bounded
        (LOCAL_CACHE_BYTES). A query whose total posting mass exceeds
        ``max_postings`` (default LOCAL_MAX_POSTINGS) falls back to the
        distributed path — at 10^12 docs a stopword's postings are GBs
        and belong on executors; the selective queries a latency tier
        exists for stay MBs. Cold per new term: one filtered-scan job
        for the rows + one for unseen shards' sidecars.

        Under the cap the tier scores EXHAUSTIVELY over flat cached
        per-term arrays (|terms| vectorized contribution ops + one
        sort/reduce): with the candidate mass guard-bounded, pruning
        has nothing worth skipping, and the per-shard kernel loop it
        replaces spent its time on ~n_shards tiny calls per query.
        ``scorer`` only routes the over-cap fallback.

        ``as_pandas=True`` returns the result as a pandas DataFrame
        directly — the natural shape for a driver-local tier (the
        default Spark-DataFrame return pays a local-relation round-trip
        that roughly doubles warm latency; values are identical)."""
        self._maybe_refresh()
        spark = self.spark

        def _out(pdf: pd.DataFrame):
            if as_pandas:
                return pdf.reset_index(drop=True)
            return spark.createDataFrame(pdf, TOPK_SCHEMA)

        clauses, n_clauses, negs, phrases, neg_phrases, boosts = (
            self._plan_clauses(query, max_expansions, synonyms)
        )
        msm = resolve_msm(min_should_match, n_clauses)
        terms = sorted({t for cl in clauses for t in cl})
        pterms = sorted(
            {t for ph in phrases for t in ph}
            | {t for ph in neg_phrases for t in ph}
        )
        if (not terms and not phrases) or len(clauses) + len(phrases) < msm:
            return _out(_empty_topk())
        df_map = self.resolve_df(terms + negs + pterms)
        cap = self.LOCAL_MAX_POSTINGS if max_postings is None else max_postings
        # exclusion and phrase postings are pulled to the driver too —
        # they count against the same posting-mass guard
        if sum(df_map[t] for t in terms + negs + pterms) > cap:
            dist = self.topk(query, k, scorer, min_should_match=msm,
                             max_expansions=max_expansions,
                             search_after=search_after, synonyms=synonyms)
            return dist.toPandas() if as_pandas else dist
        if pterms:
            self._ensure_local_pos(pterms)

        # fetch + decode ONCE per term: the cache holds flat, fully
        # decoded (docs, tf, dl) arrays per term spanning all shards and
        # generations (per-shard gen-merge applied at build). The warm
        # query is then |terms| vectorized contribution ops + one
        # sort/reduce — no per-shard loop, no pandas machinery (the
        # per-shard kernel path measured ~90 small scorer calls and 18k
        # redundant dl decodes per query at 128 shards).
        missing = [t for t in terms + negs if t not in self._local_flat]
        if missing:
            rows = [
                r.asDict()
                for r in self.seg.filter(F.col("term").isin(missing)).collect()
            ]
            self._load_local_sidecars(sorted(
                {int(d["shard"]) for d in rows} - self._local_side.keys()
            ))
            by_ts: dict[tuple, list[dict]] = {}
            for d in rows:
                by_ts.setdefault((d["term"], int(d["shard"])), []).append(d)
            flat_parts: dict[str, list] = {t: [] for t in missing}
            for (t, shard), ds in by_ts.items():
                base, dl_arr, _ = self._local_side[shard]
                runs = [
                    decode_posting_list(bytes(d["doc_bytes"]),
                                        bytes(d["tf_bytes"]), base=base)
                    for d in sorted(ds, key=lambda d: int(d["gen"]))
                ]
                docs, tfs = runs[0] if len(runs) == 1 else merge_posting_runs(runs)
                flat_parts[t].append((shard, docs, tfs, dl_arr[docs - base]))
            size = 0
            for t in missing:
                ps = sorted(flat_parts[t])  # shard order: deterministic concat
                if ps:
                    docs = np.concatenate([p[1] for p in ps])
                    tfs = np.concatenate([p[2] for p in ps]).astype(np.float64)
                    dls = np.concatenate([p[3] for p in ps])
                else:
                    docs = np.zeros(0, dtype=np.int64)
                    tfs = dls = np.zeros(0, dtype=np.float64)
                self._local_flat[t] = (docs, tfs, dls)
                size += docs.nbytes + int(tfs.nbytes) + int(dls.nbytes)
            self._local_bytes += size
        if self._local_bytes > self.LOCAL_CACHE_BYTES:
            # evict down to THIS query's working set: its terms' flat
            # arrays, its phrase terms' positional arrays, AND the
            # sidecars of the shards they touch (shard = doc // width)
            self._local_flat = {
                t: v for t, v in self._local_flat.items()
                if t in set(terms) | set(negs)
            }
            self._local_pos = {
                t: v for t, v in self._local_pos.items() if t in set(pterms)
            }
            width = int(self.meta["shard_width"])
            kept_shards: set[int] = set()
            for docs_t, *_ in list(self._local_flat.values()) + list(
                self._local_pos.values()
            ):
                if docs_t.size:
                    kept_shards.update((np.unique(docs_t // width)).tolist())
            self._local_side = {
                sh: v for sh, v in self._local_side.items()
                if sh in kept_shards
            }
            dels = [d for _, _, d in self._local_side.values()
                    if d is not None and d.size]
            self._local_deleted = (
                np.unique(np.concatenate(dels)) if dels
                else np.zeros(0, dtype=np.int64)
            )
            self._local_bytes = sum(
                sum(int(a.nbytes) for a in v)
                for v in self._local_flat.values()
            ) + sum(
                sum(int(a.nbytes) for a in v)
                for v in self._local_pos.values()
            ) + sum(
                int(dl.nbytes)
                + (int(d.nbytes) if d is not None else 0)
                for _, dl, d in self._local_side.values()
            )

        n_docs, avgdl = int(self.meta["n_docs"]), float(self.meta["avgdl"])
        parts_d, parts_c = [], []
        for t in terms:
            docs, tfs, dls = self._local_flat[t]
            if docs.size:
                parts_d.append(docs)
                parts_c.append(
                    idf(n_docs, df_map[t]) * boosts.get(t, 1.0)
                    * bm25_tf_term(tfs, dls, avgdl)
                )
        phrase_hits: list[np.ndarray] = []
        for ph in phrases:
            arrs = []
            for t in ph:
                v = self._local_pos.get(t)
                if v is None or v[0].size == 0:
                    arrs = None
                    break
                arrs.append((v[0], v[1], v[3]))
            if arrs is None:
                phrase_hits.append(np.zeros(0, np.int64))
                continue
            pdocs, pf = _phrase_freqs(arrs, slop=getattr(ph, 'slop', 0))
            phrase_hits.append(pdocs)
            if pdocs.size:
                d0, _, dl0, _ = self._local_pos[ph[0]]
                dl = dl0[np.searchsorted(d0, pdocs)]
                w = getattr(ph, "boost", 1.0) * sum(
                    idf(n_docs, df_map[t]) for t in ph
                )
                parts_d.append(pdocs)
                parts_c.append(
                    w * bm25_tf_term(pf.astype(np.float64), dl, avgdl)
                )
        if not parts_d:
            return _out(_empty_topk())
        docs = np.concatenate(parts_d)
        contrib = np.concatenate(parts_c)
        order = np.argsort(docs, kind="stable")
        docs, contrib = docs[order], contrib[order]
        uniq, starts = np.unique(docs, return_index=True)
        scores = np.add.reduceat(contrib, starts)
        if msm > 1:
            if all(len(cl) == 1 for cl in clauses) and len(terms) == len(clauses):
                # one distinct term per clause: per-term docs are unique
                # and each matched phrase added exactly one parts_d entry
                # per doc, so the posting count per unique doc IS its
                # matched-clause count (a literal repeated as its
                # prefix's only expansion is two clauses on one term)
                nmatch = np.diff(np.append(starts, docs.size))
            else:
                # prefix clauses: a clause counts once per doc however
                # many of its member expansions matched — per clause,
                # union the member postings and mark (uniq is sorted, so
                # searchsorted maps each clause-doc to its slot)
                nmatch = np.zeros(uniq.size, dtype=np.int64)
                for cl in clauses:
                    ps = [
                        self._local_flat[t][0] for t in cl
                        if t in self._local_flat
                        and self._local_flat[t][0].size
                    ]
                    if not ps:
                        continue
                    dcl = ps[0] if len(ps) == 1 else np.unique(
                        np.concatenate(ps)
                    )
                    nmatch[np.searchsorted(uniq, dcl)] += 1
                for pdocs in phrase_hits:
                    if pdocs.size:
                        nmatch[np.searchsorted(uniq, pdocs)] += 1
            uniq, scores = uniq[nmatch >= msm], scores[nmatch >= msm]
        for ph in neg_phrases:
            arrs = []
            for t in ph:
                v = self._local_pos.get(t)
                if v is None or v[0].size == 0:
                    arrs = None
                    break
                arrs.append((v[0], v[1], v[3]))
            if arrs is None:
                continue
            pdocs, _ = _phrase_freqs(arrs, slop=getattr(ph, 'slop', 0))
            if pdocs.size:
                alive = ~np.isin(uniq, pdocs)
                uniq, scores = uniq[alive], scores[alive]
        if negs:
            ps = [self._local_flat[t][0] for t in negs
                  if t in self._local_flat and self._local_flat[t][0].size]
            if ps:
                excl = ps[0] if len(ps) == 1 else np.unique(
                    np.concatenate(ps)
                )
                alive = ~np.isin(uniq, excl)
                uniq, scores = uniq[alive], scores[alive]
        if self._local_deleted.size:
            alive = ~np.isin(uniq, self._local_deleted, assume_unique=True)
            uniq, scores = uniq[alive], scores[alive]
        if search_after is not None:
            s, d = float(search_after[0]), int(search_after[1])
            after = (scores < s) | ((scores == s) & (uniq > d))
            uniq, scores = uniq[after], scores[after]
        if uniq.size == 0:
            return _out(_empty_topk())
        sel = np.lexsort((uniq, -scores))[:k]
        res = pd.DataFrame({
            "doc_id": uniq[sel].astype("int64"),
            "score": scores[sel],
        })
        return _out(res)

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
        the clause gate however many expansions match. Conjunctive
        queries route to the pigeonhole scorer — candidates come from
        the rarest (n-msm+1) clause groups, hot lists are only probed
        at candidate positions (block-lazy) — with a dense counting
        fallback when nothing is skippable.

        ``search_after=(score, doc_id)`` is OpenSearch deep pagination:
        return the next k results STRICTLY AFTER the cursor in the
        (score desc, doc_id asc) total order — pass the previous page's
        last row. Cursored pages route through the dense full-emission
        path (a shard cannot know how much of its top-k the cursor
        consumed, so per-shard k-cuts would drop rows pages still need);
        the cursor filter runs before Spark's TakeOrdered, which caps
        network at k per partition as usual."""
        after = search_after is not None
        local = self._shard_scored(
            [query], None if after else k, "dense" if after else scorer,
            min_should_match, max_expansions, synonyms)
        if local is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        local = local.drop("query_id")
        if after:
            s, d = float(search_after[0]), int(search_after[1])
            local = local.filter(
                (F.col("score") < s)
                | ((F.col("score") == s) & (F.col("doc_id") > d))
            )
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

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

        Cost: one filtered collect of the doc's SHARD rows for the
        query's terms (a shard's per-term posting list is bounded by
        the shard width, the same driver budget the local tier already
        accepts) — explain is a debugging surface for single documents,
        never a bulk path."""
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

        side = self.sidecar.filter(F.col("shard") == shard).collect()
        if not side:
            return empty
        sd = side[0].asDict()
        base = int(sd["base"])
        if sd["deleted"] is not None and doc_id in set(sd["deleted"]):
            return empty
        dl_arr = vbyte_decode(bytes(sd["dl_bytes"]))
        off = doc_id - base
        if not 0 <= off < dl_arr.shape[0]:
            return empty
        dl = float(dl_arr[off])

        seg_src = self._seg_positional() if phrases or neg_phrases else self.seg
        want = sorted(set(terms) | set(negs) | set(pterms))
        rows = [r.asDict() for r in seg_src.filter(
            (F.col("term").isin(want)) & (F.col("shard") == shard)
        ).collect()]
        by_term: dict[str, list[dict]] = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
        tf_of: dict[str, int] = {}
        pos_of: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for t, ds in by_term.items():
            runs = [
                decode_posting_list(bytes(d["doc_bytes"]),
                                    bytes(d["tf_bytes"]), base=base)
                for d in sorted(ds, key=lambda d: int(d["gen"]))
            ]
            docs, tfs = runs[0] if len(runs) == 1 else merge_posting_runs(runs)
            i = np.searchsorted(docs, doc_id)
            if i < docs.size and docs[i] == doc_id:
                tf_of[t] = int(tfs[i])
            if (phrases or neg_phrases) and t in pterms:
                pruns = []
                for d in sorted(ds, key=lambda d: int(d["gen"])):
                    docs2, tfs2 = decode_posting_list(
                        bytes(d["doc_bytes"]), bytes(d["tf_bytes"]),
                        base=base)
                    pruns.append((docs2, tfs2, decode_positions(
                        bytes(d["pos_bytes"]), tfs2)))
                pos_of[t] = (pruns[0] if len(pruns) == 1
                             else merge_posting_runs_with_pos(pruns))

        if any(t in tf_of for t in negs):
            return empty

        def _phrase_freq_of(ph) -> int:
            arrs = []
            for t in ph:
                v = pos_of.get(t)
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
        One filtered-scan job resolves every candidate's df."""
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
        phrases, tombstones), but each shard emits every doc whose score
        is positive and nothing is globally sorted — the result stays
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
        synonyms: dict[str, list[str]] | None, resolve: bool,
    ) -> _QueryPlan | None:
        """Plan one query's clauses once, on the driver. None when no doc
        can match: fewer surviving clauses than msm (incl. AND with an
        unindexed term or a no-match prefix), or a pure-negative query,
        which has no positive clause to generate candidates (Lucene bool
        with only must_not)."""
        clauses, n_clauses, negs, phrases, neg_phrases, boosts = (
            self._plan_clauses(query, max_expansions, synonyms,
                               resolve=resolve)
        )
        msm = resolve_msm(min_should_match, n_clauses)
        terms = {t for cl in clauses for t in cl}
        if (not terms and not phrases) or len(clauses) + len(phrases) < msm:
            return None
        terms.update(t for ph in phrases + neg_phrases for t in ph)
        return _QueryPlan(sorted(terms), negs, scorer, msm, clauses,
                          phrases, neg_phrases, boosts)

    def _shard_scored(
        self, queries: list[str], k: int | None, scorer: str,
        min_should_match: int | str | None,
        max_expansions: int | None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame | None:
        """The one distributed plan behind ``topk``, ``match_scores`` and
        ``topk_batch``: every query's terms union into one segment
        filter, and one per-shard loop (:func:`_score_group`) scores
        each (shard, query) pair, emitting (query_id, doc_id, score) —
        the shard's top-k per query, or with ``k=None`` every positive-
        score doc (the exhaustive kernel touches the whole shard anyway,
        so 'all matches' costs the same pass). None when no query can
        match.

        Global df: a warm engine resolves it on the driver (cached). A
        cold one computes it INSIDE the job — a broadcast gdf aggregate
        joined onto the filtered rows — so one-shot queries and batches
        skip the resolve_df job; results are identical (gdf = the same
        Σ df over shards/gens). Synonym blending needs driver-side dfs,
        so synonym queries always resolve."""
        self._maybe_refresh()
        inplan = not self._shard_partitioned and synonyms is None
        plans = [self._query_plan(q, scorer, min_should_match,
                                  max_expansions, synonyms, not inplan)
                 for q in queries]
        live = [p for p in plans if p is not None]
        if not live:
            return None
        n_docs, avgdl = int(self.meta["n_docs"]), float(self.meta["avgdl"])
        keff = (1 << 31) if k is None else k
        terms = {t for p in live for t in p.terms}
        positional = any(p.phrases or p.neg_phrases for p in live)
        seg_src = self._seg_positional() if positional else self.seg
        seg = seg_src.filter(F.col("term").isin(
            sorted(terms.union(*(p.negs for p in live)))))
        if inplan:
            df_map = None
            gdf = seg.groupBy("term").agg(F.sum("df").alias("gdf"))
            seg = seg.join(F.broadcast(gdf), "term")
        else:
            df_map = self.resolve_df(sorted(terms))
        if not self._shard_partitioned:
            # cold path: co-locate each shard's rows (the filtered set is
            # tiny — <= |terms| rows per shard — so this shuffle is cheap)
            seg = seg.repartition(F.col("shard"))
        # per-shard sidecar join: no full-corpus shuffle on any path.
        # At sandbox scale Catalyst broadcasts the (tiny, cached) sidecar
        # per query (PLANS.md §warm: InMemoryTableScan -> BHJ -> mapInPandas
        # -> TakeOrdered, zero data shuffles); past the broadcast threshold
        # (thousands of shards x ~MB dl_bytes) it falls back to a join on
        # the two caches' SHARED hash partitioning — still exchange-free.
        seg = seg.join(self.sidecar, "shard", "inner")

        def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # a shard's rows can span Arrow batches: consume the WHOLE
            # partition before grouping, else a doc's score splits across
            # partial term sets (top-k would then rank partial sums)
            chunks = list(batches)
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            for _, grp in pdf.groupby("shard"):
                gdf_of = df_map if df_map is not None else {
                    t: int(g) for t, g in zip(grp["term"].to_numpy(),
                                              grp["gdf"].to_numpy())
                }
                yield from _score_group(grp, plans, gdf_of, n_docs, avgdl,
                                        keff)

        return seg.mapInPandas(score_partition, BATCH_TOPK_SCHEMA)

    def topk_batch(
        self, queries: list[str], k: int = 10, scorer: str = "auto",
        min_should_match: int | str | None = None,
        max_expansions: int | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Score a BATCH of queries in ONE Spark job (returns (query_id,
        doc_id, score); query_id = position in ``queries``).

        Warm single-query latency at sandbox scale is job-scheduling
        bound (~0.4s) with the scorer kernel at ~100ms — batching
        amortizes the scheduling: all queries' terms union into one
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


def _score_query(
    grp: pd.DataFrame, plan: _QueryPlan, gdf: dict[str, int], n_docs: int,
    avgdl: float, k: int, base: int, dl_bytes: bytes,
    deleted: np.ndarray | None,
) -> pd.DataFrame:
    """Kernel wrapper: one query's rows of one shard -> its top-k.

    idf comes from the per-term GLOBAL df ``gdf``. Phrase queries take
    the exhaustive kernel, msm > 1 the pigeonhole specialization, and
    OR queries wand or dense. ``scorer="auto"`` picks over the terms
    this shard holds: dense for a single term or when any df exceeds
    10% of the corpus (every posting gets scored either way, so the
    plain accumulator wins), else wand. Every kernel is exact, so the
    pick never changes results."""
    ir = {t: idf(n_docs, gdf[t]) for t in grp["term"].unique()}
    im = {t: w * plan.boosts.get(t, 1.0) for t, w in ir.items()}
    args = (grp, im, avgdl, k, base, dl_bytes, deleted)
    if plan.phrases or plan.neg_phrases:
        return _score_shard_dense(
            *args, msm=plan.msm, clauses=plan.clauses, phrases=plan.phrases,
            neg_phrases=plan.neg_phrases, phrase_idf=ir)
    if plan.msm > 1:
        return _score_shard_msm(*args, msm=plan.msm, clauses=plan.clauses)
    scorer = plan.scorer
    if scorer == "auto":
        hot = max(gdf[t] for t in ir) > 0.1 * n_docs
        scorer = "dense" if len(ir) == 1 or hot else "wand"
    return (_score_shard_wand if scorer == "wand" else _score_shard_dense)(*args)


def _score_group(
    grp: pd.DataFrame, plans: list[_QueryPlan | None], gdf: dict[str, int],
    n_docs: int, avgdl: float, k: int,
) -> Iterator[pd.DataFrame]:
    """One shard's rows (joined with its sidecar) -> (query_id, doc_id,
    score) per planned query; query_id = position in ``plans``.

    must_not docs ARE per-query tombstones, and every kernel honors
    ``deleted`` — so exclusion happens BEFORE top-k (a masked doc is
    replaced by the next-best, never dropped from a shorter result).
    The shard's exclusion postings are decoded ONCE for every query."""
    base, dl_bytes, deleted = _sidecar_of(grp)
    all_negs = {t for p in plans if p is not None for t in p.negs}
    neg_docs: dict[str, np.ndarray] = {}
    if all_negs:
        neg_rows = grp[grp["term"].isin(all_negs)]
        if len(neg_rows):
            neg_docs = {t: d for t, (d, _, _) in
                        _decode_group(neg_rows, base).items() if d.size}
    for qi, plan in enumerate(plans):
        if plan is None:
            continue
        sub = grp[grp["term"].isin(plan.terms)]
        if sub.empty:
            continue
        del_q = deleted
        ps = [neg_docs[t] for t in plan.negs if t in neg_docs]
        if ps:
            excl = ps[0] if len(ps) == 1 else np.unique(np.concatenate(ps))
            del_q = (excl if del_q is None or not del_q.size
                     else np.union1d(del_q, excl))
        out = _score_query(sub, plan, gdf, n_docs, avgdl, k, base,
                           dl_bytes, del_q)
        if len(out):
            out.insert(0, "query_id", np.int32(qi))
            yield out


def _decode_group(
    grp: pd.DataFrame, base: int, pos_terms: set[str] | frozenset = frozenset(),
) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray | None]]:
    """Decode (and merge across generations) each term's postings into
    (docs, tfs, positions); positions are decoded only for ``pos_terms``
    (phrase terms — the generation merge keeps them aligned via the
    token-run gather) and are None otherwise.
    Column-array access, not itertuples: materializing wide rows (two
    byte buffers + six block arrays) through pandas row objects measured
    ~0.7 ms per shard-group call — comparable to the scoring itself."""
    terms = grp["term"].to_numpy()
    gens = grp["gen"].to_numpy()
    docs_b = grp["doc_bytes"].to_numpy()
    tfs_b = grp["tf_bytes"].to_numpy()
    pos_b = (grp["pos_bytes"].to_numpy()
             if pos_terms and "pos_bytes" in grp.columns else None)
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


def _score_shard_dense(
    grp: pd.DataFrame, idf_map: dict[str, float], avgdl: float, k: int,
    base: int, dl_bytes: bytes, deleted: np.ndarray | None = None,
    dl_arr: np.ndarray | None = None, msm: int = 1,
    clauses: list[list[str]] | None = None,
    phrases: list[Phrase] | None = None,
    neg_phrases: list[Phrase] | None = None,
    phrase_idf: dict[str, float] | None = None,
) -> pd.DataFrame:
    """The exhaustive shard kernel every query shape can take: a dense
    accumulator over the shard's contiguous docID range (shards ARE
    docID ranges by construction), then one top-k selection.

    - Term rows add idf-weighted BM25. With ``clauses`` given, only
      clause members score — a term that appears only inside a phrase
      does not — and a term shared by several clauses scores ONCE with
      its folded max weight (the ``_plan_clauses`` contract).
    - ``msm`` > 1 adds a match-count accumulator and zeroes docs below
      it. Without ``clauses`` every term is its own clause (postings
      are unique per (term, doc) after generation merge); a clause (a
      prefix's expansions) counts once per doc however many matched.
    - Each of ``phrases`` adds ``(Σ idf of its terms) *
      tf_term(phrase_freq, dl)`` — Lucene's PhraseQuery weighting under
      BM25 — and counts once toward ``msm``. ``phrase_idf`` supplies the
      UNBOOSTED idf: ``idf_map`` may carry fuzzy similarity boosts that
      must not leak into a phrase sharing a term. Callers passing
      phrases pass ``clauses`` too.
    - ``neg_phrases`` (must_not) and ``deleted`` zero their docs before
      the top-k cut."""
    phrases = phrases or []
    neg_phrases = neg_phrases or []
    postings = _decode_group(
        grp, base, {t for ph in phrases + neg_phrases for t in ph})
    if dl_arr is None:
        dl_arr = vbyte_decode(dl_bytes).astype(np.int64)
    if not postings:
        return _empty_topk()
    acc = np.zeros(dl_arr.shape[0], dtype=np.float64)
    cnt = np.zeros(dl_arr.shape[0], dtype=np.int32) if msm > 1 else None
    scored = None if clauses is None else {t for cl in clauses for t in cl}
    for term, (docs, tfs, _) in postings.items():
        if docs.size == 0 or (scored is not None and term not in scored):
            continue
        off = docs - base
        dl = dl_arr[off]
        acc[off] += idf_map[term] * bm25_tf_term(
            tfs.astype(np.float64), dl.astype(np.float64), avgdl
        )
        if cnt is not None and clauses is None:
            cnt[off] += 1
    if cnt is not None and clauses is not None:
        for cl in clauses:
            offs = [
                postings[t][0] - base for t in cl
                if t in postings and postings[t][0].size
            ]
            if not offs:
                continue
            u = offs[0] if len(offs) == 1 else np.unique(
                np.concatenate(offs)
            )
            cnt[u] += 1
    # positive phrases first: a negative phrase's mask must win
    for i, ph in enumerate(phrases + neg_phrases):
        if any(t not in postings or postings[t][0].size == 0 for t in ph):
            continue
        pdocs, pf = _phrase_freqs([postings[t] for t in ph],
                                  slop=getattr(ph, "slop", 0))
        off = pdocs - base
        if i >= len(phrases):
            acc[off] = 0.0
            continue
        w = getattr(ph, "boost", 1.0) * sum(
            (phrase_idf or idf_map)[t] for t in ph
        )
        acc[off] += w * bm25_tf_term(
            pf.astype(np.float64), dl_arr[off].astype(np.float64), avgdl
        )
        if cnt is not None:
            cnt[off] += 1
    if cnt is not None:
        acc[cnt < msm] = 0.0
    if deleted is not None and deleted.size:
        # tombstone mask; clip to the shard's populated range — a stale or
        # bogus tombstone id must not crash every query on this shard
        off = deleted - base
        acc[off[(off >= 0) & (off < acc.shape[0])]] = 0.0
    nz = np.flatnonzero(acc)
    if nz.size == 0:
        return _empty_topk()
    order = np.lexsort((nz, -acc[nz]))[:k]
    sel = nz[order]
    return pd.DataFrame({
        "doc_id": (sel + base).astype("int64"),
        "score": acc[sel],
    })


class _LazyTermPostings:
    """Per-(term, shard) postings with BLOCK-LEVEL LAZY DECODE: a term's
    bytes are only decoded for the blocks a candidate set actually
    touches (per-block byte offsets + the stored block_first anchor make
    any block independently decodable). A term with multiple generation
    rows (transient, pre-merge) falls back to eager decode+merge so
    last-wins semantics stay exact."""

    __slots__ = ("base", "first", "last", "max_tf", "min_dl",
                 "doc_off", "tf_off", "doc_bytes", "tf_bytes",
                 "_full", "_blocks", "rows", "df")

    def __init__(self, rows: list[dict], base: int) -> None:
        self.base = base
        self.rows = rows
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        self.df = sum(int(r["df"]) for r in rows)
        r = rows[0]
        lazy = len(rows) == 1 and r.get("block_doc_off") is not None
        self.first = np.asarray(r["block_first"], dtype=np.int64)
        self.last = np.asarray(r["block_last"], dtype=np.int64)
        self.max_tf = np.asarray(r["block_max_tf"], dtype=np.float64)
        self.min_dl = np.asarray(r["block_min_dl"], dtype=np.float64)
        if lazy:
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

    def upper_bound(self, idf_t: float, avgdl: float) -> float:
        best = 0.0
        for row in self.rows:
            mt = np.asarray(row["block_max_tf"], dtype=np.float64)
            if mt.size == 0:
                return idf_t * (K1 + 1.0)  # universal bound: tf-term < k1+1
            md = np.maximum(np.asarray(row["block_min_dl"], dtype=np.float64), 1.0)
            best = max(best, float(np.max(bm25_tf_term(mt, md, avgdl))))
        return idf_t * best

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
        "gen", "df", "doc_bytes", "tf_bytes", "block_first",
        "block_last", "block_max_tf", "block_min_dl")}
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


def _score_shard_wand(
    grp: pd.DataFrame, idf_map: dict[str, float], avgdl: float, k: int,
    base: int, dl_bytes: bytes, deleted: np.ndarray | None = None,
) -> pd.DataFrame:
    """Vectorized block-max MaxScore within one shard (Turtle & Flood '95
    term-at-a-time pruning, Ding & Suel SIGIR'11 block bounds), with
    block-level LAZY DECODE — the round-2 replacement for both the
    round-1 per-posting Python walk and its decode-everything cost:

      1. per-term upper bound from block metadata alone (no decode);
      2. terms processed in descending-bound order; a term is fully
         decoded ONLY if an unseen doc of that term could still enter the
         top-k (ub[t] + tail[t] vs the kth score, strict `<` so ties stay
         exact). A hot stopword-ish term whose bound is dominated is
         never bulk-decoded;
      3. candidates get EXACT full scores: the other terms' tf values are
         gathered via per-block lazy decode of exactly the blocks the
         candidates fall in (vectorized searchsorted, no per-doc loop).

    Exactness: every emitted score sums all query terms; pruning only
    skips docs provably below (never equal to) the kth score under the
    (score desc, docID asc) order. Parity-tested vs the exhaustive
    oracle; topk-agreement with the dense scorer checked at 500k docs.

    COST ROUTER: exact per-shard top-k cannot prune when (a) the terms
    other than the heaviest cannot even fill the k-pool that defines the
    threshold, or (b) no prefix of the ub-sorted terms dominates the
    rest strongly enough to pay for the candidate bookkeeping (the
    8x df-margin below). In those regimes this function delegates to
    the dense kernel, so the pruned scorer never loses to it; the lazy
    path engages exactly where skipping can pay — including stopword-
    heavy TAILS behind a needle head (total df alone is deliberately
    not a dense-trigger).
    """
    if len(grp) == 0:
        return _empty_topk()
    dl_arr = vbyte_decode(dl_bytes).astype(np.int64)
    # cost router FIRST, from metadata columns only (no posting decode).
    # Two gates (total-df alone is NOT one — see the prunable comment):
    #   - df shape: the terms besides the heaviest must be able to fill
    #     the k-pool, else no threshold ever activates;
    #   - BOUND SPREAD + DF MARGIN: pruning pays only when some prefix
    #     of the ub-sorted terms dominates the tail's bounds (Σub_tail
    #     < 0.5·Σub_head) AND the tail's posting mass dwarfs the head's
    #     candidate bookkeeping (Σdf_tail > 8·Σdf_head). Flat-spread
    #     term sets give the threshold nothing to beat.
    term_arr = grp["term"].to_numpy()
    df_arr = grp["df"].to_numpy()
    df_by_term: dict[str, int] = {}
    for t, d in zip(term_arr, df_arr):
        df_by_term[t] = df_by_term.get(t, 0) + int(d)
    dfs = sorted(df_by_term.values(), reverse=True)

    bmax_arr = grp["block_max_tf"].to_numpy()
    bmin_arr = grp["block_min_dl"].to_numpy()
    ub_by_term: dict[str, float] = {}
    for i in range(len(grp)):
        t = term_arr[i]
        mt = np.asarray(bmax_arr[i], dtype=np.float64)
        if mt.size == 0:
            b = idf_map[t] * (K1 + 1.0)
        else:
            md = np.maximum(np.asarray(bmin_arr[i], dtype=np.float64), 1.0)
            b = idf_map[t] * float(np.max(bm25_tf_term(mt, md, avgdl)))
        ub_by_term[t] = max(ub_by_term.get(t, 0.0), b)
    # prunable iff, for some prefix of the ub-sorted terms, (a) the tail
    # bounds are dominated (Σub_tail < 0.5·Σub_head → the threshold the
    # head establishes will beat the tail) AND (b) the tail's posting
    # mass — what actually gets skipped — dwarfs the head's candidate
    # bookkeeping. The candidate path pays O(Σdf_head) decode+score PLUS
    # per-candidate tf_at lookups, so the tail must outweigh the head by
    # a wide margin (8x, measured): at 2x an 8-term mid-df query ran the
    # candidate path 2.2x SLOWER than the dense accumulator. A
    # stopword-heavy TAIL behind a needle head is exactly where pruning
    # pays (the hot postings are never bulk-decoded) — total-df is
    # deliberately NOT a dense-trigger on its own.
    pairs = sorted(
        ((ub_by_term[t], df_by_term[t]) for t in ub_by_term),
        key=lambda x: -x[0],
    )
    head_ub = head_df = 0.0
    tail_ub = sum(u for u, _ in pairs)
    tail_df = sum(d for _, d in pairs)
    prunable = False
    for u, d in pairs[:-1]:
        head_ub += u
        tail_ub -= u
        head_df += d
        tail_df -= d
        if tail_ub < 0.5 * head_ub and tail_df > 8.0 * head_df:
            prunable = True
            break
    if sum(dfs[1:]) < k or not prunable:
        return _score_shard_dense(grp, idf_map, avgdl, k, base, dl_bytes,
                                  deleted, dl_arr=dl_arr)

    lazies = _lazy_postings(grp, base)
    terms = list(lazies)
    ub = ub_by_term  # computed in the router, no decode
    order = sorted(terms, key=lambda t: (-ub[t], t))
    ubs = np.array([ub[t] for t in order], dtype=np.float64)
    tail = np.concatenate((np.cumsum(ubs[::-1])[::-1][1:], [0.0]))

    pool_docs = np.zeros(0, dtype=np.int64)     # unique, sorted, scored
    pool_scores = np.zeros(0, dtype=np.float64)
    # docs proven strictly below the threshold: excluded from future
    # candidacy (the threshold only rises, so a kill is final). Keeping
    # them out of the pool is what lets the per-candidate bound kills
    # below stay exact — a killed doc can never re-enter half-scored.
    killed = np.zeros(0, dtype=np.int64)        # unique, sorted
    threshold = -math.inf
    for i, t in enumerate(order):
        # an unseen doc introduced here scores at most ub[t] + tail[i]
        if pool_docs.size >= k and (ubs[i] + tail[i]) < threshold:
            break
        cand, ctf = lazies[t].full()
        if pool_docs.size:
            keep = ~np.isin(cand, pool_docs, assume_unique=True)
            cand, ctf = cand[keep], ctf[keep]
        if killed.size:
            keep = ~np.isin(cand, killed, assume_unique=True)
            cand, ctf = cand[keep], ctf[keep]
        if deleted is not None and deleted.size:
            keep = ~np.isin(cand, deleted)
            cand, ctf = cand[keep], ctf[keep]
        if cand.size:
            dl = dl_arr[cand - base].astype(np.float64)
            sc = idf_map[t] * bm25_tf_term(ctf.astype(np.float64), dl, avgdl)
            # MAXSCORE SPLIT: a doc introduced at term i contains NO
            # earlier-ordered term (their full postings all went to
            # pool∪killed), so exact scoring needs lookups only against
            # the LATER terms — and between lookups each candidate's
            # optimistic bound (sc + Σub of still-unvisited terms) gates
            # the next lookup: strictly-below-threshold candidates are
            # killed before they cost another tf_at. Strict `<` keeps
            # ties exact (an equal-bound doc could still win on docID).
            rest = order[i + 1:]
            rest_ubs = np.array([ub[u] for u in rest], dtype=np.float64)
            rem = np.concatenate((np.cumsum(rest_ubs[::-1])[::-1], [0.0]))
            for j, u in enumerate(rest):
                if threshold > -math.inf and rem[j] > 0.0:
                    alive = sc + rem[j] >= threshold
                    if not alive.all():
                        killed = np.union1d(killed, cand[~alive])
                        cand, ctf = cand[alive], ctf[alive]
                        sc, dl = sc[alive], dl[alive]
                        if cand.size == 0:
                            break
                vals, hit = lazies[u].tf_at(cand)
                if hit.any():
                    sc[hit] += idf_map[u] * bm25_tf_term(vals[hit], dl[hit], avgdl)
            if cand.size and threshold > -math.inf:
                alive = sc >= threshold
                if not alive.all():
                    killed = np.union1d(killed, cand[~alive])
                    cand, sc = cand[alive], sc[alive]
            if cand.size:
                pool_docs = np.concatenate((pool_docs, cand))
                pool_scores = np.concatenate((pool_scores, sc))
                o = np.argsort(pool_docs)
                pool_docs, pool_scores = pool_docs[o], pool_scores[o]
                if pool_docs.size >= k:
                    threshold = float(
                        np.partition(pool_scores, pool_scores.size - k)[pool_scores.size - k]
                    )

    if pool_docs.size == 0:
        return _empty_topk()
    sel = np.lexsort((pool_docs, -pool_scores))[:k]
    return pd.DataFrame({
        "doc_id": pool_docs[sel].astype("int64"),
        "score": pool_scores[sel],
    })


def _score_shard_msm(
    grp: pd.DataFrame, idf_map: dict[str, float], avgdl: float, k: int,
    base: int, dl_bytes: bytes, deleted: np.ndarray | None = None,
    msm: int = 2, clauses: list[list[str]] | None = None,
) -> pd.DataFrame:
    """Conjunctive / minimum-should-match shard scorer via PIGEONHOLE
    candidate generation: a doc matching >= msm of the query's n clauses
    present in this shard must appear in at least one of the
    (n - msm + 1) RAREST clause groups (if it missed all of them it
    could match at most msm-1 of the remaining). Those groups' member
    lists are decoded fully as the candidate universe; the remaining
    (hot) groups are probed only at candidate positions via block-lazy
    ``tf_at`` — an AND of a needle term with a stopword never
    bulk-decodes the stopword's postings. Scores are exact full BM25
    sums over every matched term; the count gate uses distinct matched
    CLAUSES (``clauses=None``: every term is its own clause; a prefix
    clause lists its expansions and counts once however many match —
    clause rarity orders by the sum of member dfs, an upper bound of
    the union size).

    Falls back to the dense counting accumulator when the candidate
    universe approaches the shard size (nothing left to skip) — same
    cost-router philosophy as ``_score_shard_wand``.
    """
    if len(grp) == 0:
        return _empty_topk()
    dl_arr = vbyte_decode(dl_bytes).astype(np.int64)

    term_arr = grp["term"].to_numpy()
    df_by_term: dict[str, int] = {}
    for t, d in zip(term_arr, grp["df"].to_numpy()):
        df_by_term[t] = df_by_term.get(t, 0) + int(d)
    if clauses is None:
        groups = [[t] for t in df_by_term]
    else:
        groups = [
            g for g in (
                [t for t in cl if t in df_by_term] for cl in clauses
            ) if g
        ]
    groups.sort(key=lambda g: (sum(df_by_term[t] for t in g), g[0]))
    if len(groups) < msm:
        return _empty_topk()  # shard lacks msm of the query's clauses
    n_small = len(groups) - msm + 1
    small, rest = groups[:n_small], groups[n_small:]
    if sum(df_by_term[t] for g in small for t in g) > 0.33 * dl_arr.size:
        return _score_shard_dense(grp, idf_map, avgdl, k, base, dl_bytes,
                                  deleted, dl_arr=dl_arr, msm=msm,
                                  clauses=clauses)

    lazies = _lazy_postings(grp, base)

    parts_d, parts_c = [], []
    small_docs: list[np.ndarray] = []  # per small CLAUSE: unique doc union
    # a term shared by several clauses scores ONCE with its folded max
    # weight (_plan_clauses contract); clause membership below feeds only
    # the msm count
    scored: set[str] = set()
    for g in small:
        g_docs: list[np.ndarray] = []
        for t in g:
            docs, tfs = lazies[t].full()
            if docs.size:
                if t not in scored:
                    scored.add(t)
                    parts_d.append(docs)
                    parts_c.append(
                        idf_map[t] * bm25_tf_term(
                            tfs.astype(np.float64),
                            dl_arr[docs - base].astype(np.float64), avgdl,
                        )
                    )
                g_docs.append(docs)
        small_docs.append(
            g_docs[0] if len(g_docs) == 1
            else np.unique(np.concatenate(g_docs)) if g_docs
            else np.zeros(0, dtype=np.int64)
        )
    if not parts_d:
        return _empty_topk()
    docs = np.concatenate(parts_d)
    contrib = np.concatenate(parts_c)
    order = np.argsort(docs, kind="stable")
    docs, contrib = docs[order], contrib[order]
    cands, starts = np.unique(docs, return_index=True)
    sc = np.add.reduceat(contrib, starts)
    cnt = np.zeros(cands.size, dtype=np.int64)
    for dcl in small_docs:
        if dcl.size:
            cnt[np.searchsorted(cands, dcl)] += 1
    dl_c = dl_arr[cands - base].astype(np.float64)
    hit_cache: dict[str, np.ndarray] = {}
    for g in rest:
        g_hit = np.zeros(cands.size, dtype=bool)
        for t in g:
            hit = hit_cache.get(t)
            if hit is None:
                if t in scored:
                    # already fully decoded+scored via a small clause:
                    # membership probe only, no second contribution
                    docs_t = lazies[t].full()[0]
                    if docs_t.size:
                        pos = np.searchsorted(docs_t, cands)
                        safe = np.minimum(pos, docs_t.size - 1)
                        hit = (pos < docs_t.size) & (docs_t[safe] == cands)
                    else:
                        hit = np.zeros(cands.size, dtype=bool)
                else:
                    vals, hit = lazies[t].tf_at(cands)
                    if hit.any():
                        sc[hit] += idf_map[t] * bm25_tf_term(
                            vals[hit], dl_c[hit], avgdl
                        )
                    scored.add(t)
                hit_cache[t] = hit
            g_hit |= hit
        if g_hit.any():
            cnt[g_hit] += 1
    keep = cnt >= msm
    if deleted is not None and deleted.size:
        keep &= ~np.isin(cands, deleted)
    cands, sc = cands[keep], sc[keep]
    if cands.size == 0:
        return _empty_topk()
    sel = np.lexsort((cands, -sc))[:k]
    return pd.DataFrame({
        "doc_id": cands[sel].astype("int64"),
        "score": sc[sel],
    })
