"""The engine's query catalog: every operator from SURVEY.md §2 (plus the
training-data-pipeline operators) exposed as a (Spark plan, ANSI-SQL
oracle) pair over the driver's testdata tables.

Parity discipline:
  - identical output column NAMES in both engines (the driver sorts
    columns by name and value-hashes);
  - floats produced by non-associative aggregation are DECIMAL-summed
    then cast to double (exact, order-independent), or rounded where the
    math is order-fixed;
  - hashes are md5/sha2 HEX STRINGS (identical in Spark and DuckDB);
  - timestamps/dates are rendered as strings with explicit formats.

Each entry's ``covers`` list names the SURVEY.md §2 operators it covers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_prep_opensearch_spark.operators.bm25 import B, K1, BM25Engine
from data_prep_opensearch_spark.operators.index_build import build_index, sort_segments
from data_prep_opensearch_spark.operators.manifest import read_doc_stats
from data_prep_opensearch_spark.operators.multi_match import multi_match_topk
from data_prep_opensearch_spark.session import _materialize

TOKEN_PATTERN = "([a-z0-9_]+)"
BM25_QUERY_TERMS = ["key", "merge", "sort", "batch"]
BM25_K = 10


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    # str, or a zero-arg callable resolved at oracle_sql() time — for
    # oracles whose SQL embeds DATA-dependent literals (e.g. the IVF
    # codebook, retrained from the oracle-scale parquet on demand the
    # way emb_ann_lsh embeds its data-independent hyperplanes inline)
    sql: str | Callable[[], str] | None
    covers: list[str] = field(default_factory=list)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, covers: list[str] | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, sql, covers or [])
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 1)


# corpus with planted duplicates (shared by the dedup family):
# every doc_id % 50 == 0 is cloned at doc_id + 100000
_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0"
)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return d.unionByName(clones)


# ---------------------------------------------------------------------------
# Oracle SQL fragments: the one spelling of the BM25 formula (k1 and b
# from the engine, Lucene idf) that every BM25 oracle composes. Each
# returns text whose first line continues the caller's line and whose
# later lines carry their own indent, so the composed SQL reads as if
# written out by hand.
# ---------------------------------------------------------------------------

def _sql_list(terms: list[str]) -> str:
    return ", ".join(f"'{t}'" for t in sorted(set(terms)))


def _tok_cte(relation: str, sfx: str = "") -> str:
    """The tokenizer as a CTE: one (doc_id, term) row per token."""
    return f"""tok{sfx} AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '([a-z0-9_]+)', 1)) AS term
      FROM {relation}
    )"""


def _bm25_stat_ctes(sfx: str = "") -> str:
    """tf, dl, stats (n, avgdl) and dft over the ``tok`` CTE."""
    return f"""tf{sfx} AS (SELECT doc_id, term, count(*) AS tf FROM tok{sfx} GROUP BY doc_id, term),
    dl{sfx} AS (SELECT doc_id, count(*) AS dl FROM tok{sfx} GROUP BY doc_id),
    stats{sfx} AS (SELECT count(*) AS n, avg(1.0 * dl) AS avgdl FROM dl{sfx}),
    dft{sfx} AS (SELECT term, count(*) AS df FROM tf{sfx} GROUP BY term)"""


def _bm25_ctes(relation: str, sfx: str = "") -> str:
    return f"{_tok_cte(relation, sfx)},\n    {_bm25_stat_ctes(sfx)}"


def _idf_sql(sfx: str = "", df: str | None = None) -> str:
    df = df or f"dft{sfx}.df"
    return f"ln((stats{sfx}.n - {df} + 0.5) / ({df} + 0.5) + 1.0)"


def _tf_norm_sql(tf: str, indent: int | None = None, sfx: str = "") -> str:
    """``tf``'s BM25 tf-norm on one line, or broken before the divide
    onto a line at ``indent``."""
    sep = " " if indent is None else "\n" + " " * indent
    return (f"({tf} * ({K1} + 1.0)){sep}/ ({tf} + {K1} * "
            f"(1.0 - {B} + {B} * (dl{sfx}.dl / stats{sfx}.avgdl)))")


def _bm25_score_sql(indent: int, weight: str = "", sfx: str = "") -> str:
    """One term's contribution, idf (times ``weight``) times tf-norm,
    over three lines."""
    return (f"{_idf_sql(sfx)}{weight}\n{' ' * indent}"
            f"* {_tf_norm_sql(f'tf{sfx}.tf', indent, sfx)}")


def _bm25_scored_sql(indent: int, q: str = "q", terms: list[str] | None = None,
                     weight: str = "", raw: bool = False, where: str = "",
                     sfx: str = "") -> str:
    """Per-doc BM25 sum over the tf rows whose term is in ``q`` (an
    inline list of ``terms`` when given): ``(doc_id, score)`` rounded to
    4 places, or ``(doc_id, raw)``, grouped by doc."""
    p, tf = " " * indent, f"tf{sfx}"
    src = f"(SELECT unnest([{_sql_list(terms)}]) AS term) {q}" if terms else q
    head, tail = ("sum(", ") AS raw") if raw else ("round(sum(", "), 4) AS score")
    where = f"\n{p}WHERE {where}" if where else ""
    return f"""SELECT {tf}.doc_id AS doc_id,
{p}       {head}
{p}         {_bm25_score_sql(indent + 9, weight, sfx)}
{p}       {tail}
{p}FROM {tf}
{p}JOIN {src} ON {tf}.term = {q}.term
{p}JOIN dft{sfx} ON {tf}.term = dft{sfx}.term
{p}JOIN dl{sfx} ON {tf}.doc_id = dl{sfx}.doc_id
{p}CROSS JOIN stats{sfx}{where}
{p}GROUP BY {tf}.doc_id"""


def _capped_expansion_sql(name: str, match: str, cap: int) -> str:
    """CTE ``name``: the ``cap`` dictionary terms matching ``match``
    with the highest df, ties term-asc (the engine's expansion rule)."""
    return f"""{name} AS (
      SELECT term FROM dft WHERE {match}
      ORDER BY df DESC, term ASC LIMIT {cap}
    )"""


# ---------------------------------------------------------------------------
# Fulltext core
# ---------------------------------------------------------------------------

@register(
    "ft_doc_stats",
    """
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '([a-z0-9_]+)', 1)) AS doclen,
           sha256(text) AS content_sha
    FROM documents
    """,
    covers=["F9 content fingerprint", "F15 token counting", "doc-stats table (§1.3)"],
)
def ft_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("doclen"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


@register(
    "ft_term_stats",
    f"""
    WITH {_tok_cte("documents")}
    SELECT term,
           count(DISTINCT doc_id) AS df,
           count(*) AS cf
    FROM tok GROUP BY term
    """,
    covers=["A8 term-level agg (dictionary build)", "§2.11 UDTF-shaped explode"],
)
def ft_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    return tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"), F.count("*").alias("cf")
    )


def _bm25_sql(relation: str, terms: list[str], k: int, msm: int = 1) -> str:
    # tf is one row per (doc, term), so count(*) in the per-doc group IS
    # the distinct matched-term count — the minimum-should-match gate
    having = f"HAVING count(*) >= {msm}" if msm > 1 else ""
    return f"""
    WITH {_bm25_ctes(f"({relation})")},
    q AS (SELECT unnest([{_sql_list(terms)}]) AS term)
    {_bm25_scored_sql(4)}
    {having}
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


def _bm25_highlight_sql(terms: list[str], k: int, window: int) -> str:
    """BM25 top-k + best-fragment highlight: for each hit, the window of
    ``window`` tokens (anchored on a matched-term ordinal) containing
    the most matched-term occurrences, ties to the earliest start — the
    engine's ``highlight.best_window`` rule. The fragment is the
    window's lowercase tokens joined by spaces (the canonical form both
    sides share)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9_]+)', 1) AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM toks),
    {_bm25_stat_ctes()},
    q AS (SELECT unnest([{_sql_list(terms)}]) AS term),
    topk AS (
      {_bm25_scored_sql(6)}
      ORDER BY score DESC, doc_id ASC
      LIMIT {k}
    ),
    pos AS (
      SELECT toks.doc_id, unnest(toks.toks) AS term,
             generate_subscripts(toks.toks, 1) - 1 AS p
      FROM toks JOIN topk ON toks.doc_id = topk.doc_id
    ),
    m AS (SELECT pos.doc_id, pos.p FROM pos JOIN q ON pos.term = q.term),
    win AS (
      SELECT a.doc_id, a.p AS s, count(*) AS nm
      FROM m a JOIN m b
        ON b.doc_id = a.doc_id AND b.p >= a.p AND b.p < a.p + {window}
      GROUP BY a.doc_id, a.p
    ),
    best AS (
      SELECT doc_id, s, nm,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY nm DESC, s ASC
             ) AS rn
      FROM win
    )
    SELECT topk.doc_id AS doc_id, topk.score AS score,
           best.s AS frag_start, best.nm AS n_matches,
           array_to_string(
             toks.toks[best.s + 1 : best.s + {window}], ' '
           ) AS fragment
    FROM topk
    JOIN best ON topk.doc_id = best.doc_id AND best.rn = 1
    JOIN toks ON toks.doc_id = topk.doc_id
    ORDER BY score DESC, doc_id ASC
    """


def _bm25_features(docs: DataFrame, terms: list[str],
                   extra: dict[str, "F.Column"] | None = None) -> DataFrame:
    """Per-doc BM25 feature table: (doc_id, dl, tf_0..tf_{n-1}[, extras])
    computed as ARRAY EXPRESSIONS in one corpus scan — per-term tf is an
    array filter over the token array, dl its size — then eagerly
    materialized (``_materialize``). This is the guide-§8 'decide with
    small rows' shape: every downstream aggregate/join touches a few
    longs per doc, never the token stream, and the corpus is tokenized
    exactly ONCE (the round-5 explode→groupBy twin re-tokenized it once
    per CTE — 8-20 scans per query in the physical plan). ``extra`` maps
    column name -> expression over the ``_toks`` array column (phrase
    frequencies etc.)."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("_toks"))

    def _eq(term: str):
        return lambda x: x == F.lit(term)

    cols = [
        F.col("doc_id"),
        F.size("_toks").alias("dl"),
        *[
            F.size(F.filter("_toks", _eq(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    ]
    for name, expr in (extra or {}).items():
        cols.append(expr.alias(name))
    return _materialize(toks.select(*cols))


def _bm25_stats_row(feats: DataFrame, n_terms: int,
                    extra_aggs: list["F.Column"] | None = None) -> DataFrame:
    """One-row corpus statistics over the feature table: n / avgdl over
    docs with >=1 token (the oracle's dl-CTE semantics) + per-term df."""
    return feats.agg(
        F.count(F.when(F.col("dl") > 0, 1)).alias("n"),
        F.avg(F.when(F.col("dl") > 0, 1.0 * F.col("dl"))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(n_terms)
        ],
        *(extra_aggs or []),
    )


def _idf_col(df_col: "F.Column") -> "F.Column":
    return F.log((F.col("n") - df_col + 0.5) / (df_col + 0.5) + 1.0)


def _tf_norm(tf_col: "F.Column") -> "F.Column":
    return (tf_col * (K1 + 1.0)) / (
        tf_col + K1 * (1.0 - B + B * (F.col("dl") / F.col("avgdl")))
    )


def _bm25_dataframe(docs: DataFrame, terms: list[str], k: int,
                    msm: int = 1) -> DataFrame:
    """Declarative BM25: the same math as the segment engine, expressed
    as a pure Catalyst plan over the per-doc feature table (one corpus
    scan, one broadcast stats row, zero data shuffles). Useful both as a
    correctness oracle twin and as the 'no index yet' ad-hoc scoring
    path."""
    terms = sorted(set(terms))
    feats = _bm25_features(docs, terms)
    stats = _bm25_stats_row(feats, len(terms))
    contrib = [
        F.when(
            F.col(f"tf_{i}") > 0,
            _idf_col(F.col(f"df_{i}")) * _tf_norm(F.col(f"tf_{i}")),
        ).otherwise(0.0)
        for i in range(len(terms))
    ]
    nmatch = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(terms))
    )
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    scored = (
        feats.crossJoin(F.broadcast(stats))
        .withColumn("_nmatch", nmatch)
        .filter(F.col("_nmatch") >= max(msm, 1))
        .select("doc_id", F.round(total, 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


@register(
    "ft_bm25_topk",
    _bm25_sql("SELECT doc_id, text FROM documents", BM25_QUERY_TERMS, BM25_K),
    covers=["O7 top-k BM25 (declarative path)", "X5 broadcast dict join", "A8 partial/final agg"],
)
def ft_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_dataframe(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        BM25_QUERY_TERMS, BM25_K,
    )


def _sorted_seg_files(index_dir: str) -> int:
    """Size-adaptive publish file count: one file per ~64 MB of live
    segment bytes (guide-§6 output sizing — the raw build writes one
    file per reduce task, which at small corpora means dozens of
    KB-sized files whose listing/open cost dominates every query scan)."""
    import os

    total = 0
    for root, _dirs, files in os.walk(index_dir):
        base = os.path.basename(root)
        if base.startswith(("seg_", "segments")):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if f.endswith(".parquet")
            )
    return max(1, total // (64 << 20) + (1 if total % (64 << 20) else 0))


def _ensure_index(spark: SparkSession, sf_dir: str, key: str,
                  build: Callable[[DataFrame, str], object]) -> str:
    """Build (once per ``key``, sf_dir and package/index-format version)
    a segment index with ``build(documents, index_dir)``; return its
    directory. The documents table is read only when building. The
    version in the cache key keeps a stale on-disk index of an older
    format from being reused. The publish pass (sort_segments) rewrites
    the segments term-sorted into size-adaptive files: query-time
    ``term IN`` filters then prune whole files/row-groups instead of
    opening one tiny file per build task."""
    import hashlib
    import os

    import data_prep_opensearch_spark as pkg

    tag = hashlib.sha256(
        f"{key}:{sf_dir}@{pkg.__version__}+fmt{pkg.INDEX_FORMAT_VERSION}".encode()
    ).hexdigest()[:12]
    index_dir = f"/tmp/dposs_idx_{tag}"
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        build(load(spark, sf_dir, "documents"), index_dir)
        sort_segments(spark, index_dir, n_files=_sorted_seg_files(index_dir))
    return index_dir


def _index_source(docs: DataFrame, content: "F.Column") -> DataFrame:
    """The engine's (repo, path, commit, lang, content) input over
    documents rows: ``path`` carries the external doc_id and ``commit``
    fingerprints the row's text, so two indexes built over the same rows
    assign the same docIDs whatever their content."""
    return docs.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.sha2(F.col("text"), 256).substr(1, 40).alias("commit"),
        F.col("lang").alias("lang"),
        content.alias("content"),
    )


def _ensure_docs_index(spark: SparkSession, sf_dir: str) -> str:
    """The segment index over the documents table, shared by every
    engine-backed catalog entry so the build cost is paid once."""
    return _ensure_index(spark, sf_dir, "docs", lambda docs, d: build_index(
        spark, _index_source(docs, F.col("text")), d, n_shards=4, n_groups=1))


def _doc_id_map(spark: SparkSession, index_dir: str) -> DataFrame:
    """(engine_doc_id, ext_id): the engine docID of each indexed doc and
    its external doc_id (stored as the `path` field at index time)."""
    return read_doc_stats(spark, index_dir).select(
        F.col("doc_id").alias("engine_doc_id"),
        F.col("path").cast("long").alias("ext_id"),
    )


def _engine_topk_to_external(topk: DataFrame, spark: SparkSession,
                             index_dir: str) -> DataFrame:
    """Map an engine result's docIDs back to the external doc_id, its
    score columns rounded to 4 places."""
    ids = _doc_id_map(spark, index_dir)
    return topk.join(ids, topk["doc_id"] == ids["engine_doc_id"]).select(
        F.col("ext_id").alias("doc_id"),
        *[F.round(c, 4).alias(c) for c in topk.columns if c != "doc_id"],
    )


def _docs_engine(spark: SparkSession, sf_dir: str) -> tuple[BM25Engine, str]:
    """A cold engine over the documents index, and the index dir."""
    index_dir = _ensure_docs_index(spark, sf_dir)
    return BM25Engine(spark, index_dir, cache=False), index_dir


def _engine_entry(name: str, query: str, sql: str, covers: list[str],
                  index: Callable[[SparkSession, str], str] = _ensure_docs_index,
                  **opts) -> None:
    """Register ``name``: the top ``BM25_K`` hits of ``query`` (engine
    ``topk`` options ``opts``) on the index that ``index`` ensures,
    mapped back to external doc_ids."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        index_dir = index(spark, sf_dir)
        topk = BM25Engine(spark, index_dir, cache=False).topk(query, BM25_K, **opts)
        return _engine_topk_to_external(topk, spark, index_dir)

    REGISTRY[name] = QuerySpec(fn, sql, covers)


# the OR query on the segment engine, under ft_bm25_topk's oracle
_engine_entry(
    "ft_bm25_engine_topk", " ".join(BM25_QUERY_TERMS),
    _bm25_sql("SELECT doc_id, text FROM documents", BM25_QUERY_TERMS, BM25_K),
    ["O7 block-max WAND engine", "M3 segment index", "§3.3 query lifecycle"],
)


@register(
    "ft_bm25_msm_topk",
    _bm25_sql("SELECT doc_id, text FROM documents", BM25_QUERY_TERMS, BM25_K,
              msm=3),
    covers=["O7 top-k BM25 minimum-should-match (declarative twin)"],
)
def ft_bm25_msm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-should-match (3 of 4 terms) on the declarative path: same
    BM25 math, results gated on distinct matched-term count — the m-of-n
    semantics of a fulltext engine's `minimum_should_match` clause."""
    return _bm25_dataframe(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        BM25_QUERY_TERMS, BM25_K, msm=3,
    )


# the OR query's four terms, all required
_engine_entry(
    "ft_bm25_and_topk", " ".join(BM25_QUERY_TERMS),
    _bm25_sql("SELECT doc_id, text FROM documents", BM25_QUERY_TERMS, BM25_K,
              msm=len(BM25_QUERY_TERMS)),
    ["O7 top-k BM25 conjunctive AND (segment engine)"],
    min_should_match="all",
)


def _bm25_prefix_sql(literals: list[str], stem: str, cap: int, k: int,
                     msm: int = 1) -> str:
    """BM25 with one PREFIX clause: the stem expands to its top-``cap``
    dictionary terms by df (ties term-asc) — exactly the engine's
    ``expand_prefix`` rule — scored as a scoring-boolean. The msm gate
    counts CLAUSES: every literal is its own clause, the whole
    expansion set is one (count(DISTINCT clause))."""
    gate = f"WHERE nclause.nc >= {msm}" if msm > 1 else ""
    return f"""
    WITH {_bm25_ctes("documents")},
    {_capped_expansion_sql("exp", f"term LIKE '{stem}%'", cap)},
    q AS (
      SELECT term, term AS clause FROM (SELECT unnest([{_sql_list(literals)}]) AS term)
      UNION ALL
      SELECT term, 'prefix:{stem}' AS clause FROM exp
    ),
    qd AS (SELECT DISTINCT term FROM q),
    nclause AS (
      SELECT tf.doc_id, count(DISTINCT q.clause) AS nc
      FROM tf JOIN q ON tf.term = q.term GROUP BY tf.doc_id
    ),
    scored AS (
      {_bm25_scored_sql(6, "qd")}
    )
    SELECT scored.doc_id AS doc_id, scored.score AS score
    FROM scored JOIN nclause ON scored.doc_id = nclause.doc_id
    {gate}
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


def _bm25_fuzzy_sql(literals: list[str], stem: str, max_edits: int,
                    cap: int, k: int, msm: int = 1) -> str:
    """BM25 with one FUZZY clause (Lucene FuzzyQuery): the stem expands
    to dictionary terms within ``max_edits`` Levenshtein distance
    (closest-first, df desc, term asc, capped — the engine's
    ``expand_fuzzy`` rule), each weighted by the similarity boost
    ``1 - dist/min(len(term), len(stem))``; a term reachable through
    several clauses takes its MAX weight (a literal counts 1.0). The
    msm gate counts clauses, the whole expansion set being one."""
    slen = len(stem)
    boost = (f"1.0 - levenshtein(term, '{stem}') / "
             f"least(length(term), {slen})")
    gate = f"WHERE nclause.nc >= {msm}" if msm > 1 else ""
    return f"""
    WITH {_bm25_ctes("documents")},
    exp AS (
      SELECT term, {boost} AS boost
      FROM dft
      WHERE length(term) BETWEEN {slen - max_edits} AND {slen + max_edits}
        AND levenshtein(term, '{stem}') <= {max_edits}
        AND {boost} > 0
      ORDER BY levenshtein(term, '{stem}') ASC, df DESC, term ASC
      LIMIT {cap}
    ),
    q AS (
      SELECT term, 1.0 AS boost, term AS clause
      FROM (SELECT unnest([{_sql_list(literals)}]) AS term)
      UNION ALL
      SELECT term, boost, 'fuzzy:{stem}' AS clause FROM exp
    ),
    qw AS (SELECT term, max(boost) AS w FROM q GROUP BY term),
    nclause AS (
      SELECT tf.doc_id, count(DISTINCT q.clause) AS nc
      FROM tf JOIN q ON tf.term = q.term GROUP BY tf.doc_id
    ),
    scored AS (
      {_bm25_scored_sql(6, "qw", weight=" * qw.w")}
    )
    SELECT scored.doc_id AS doc_id, scored.score AS score
    FROM scored JOIN nclause ON scored.doc_id = nclause.doc_id
    {gate}
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


def _bm25_not_sql(literals: list[str], neg_stem: str, cap: int,
                  k: int) -> str:
    """BM25 with a MUST_NOT prefix clause: positives score normally; any
    doc matching one of the negated stem's (df-ranked, capped)
    expansions is excluded BEFORE the top-k cut."""
    return f"""
    WITH {_bm25_ctes("documents")},
    {_capped_expansion_sql("negexp", f"term LIKE '{neg_stem}%'", cap)},
    excl AS (SELECT DISTINCT tf.doc_id FROM tf JOIN negexp ON tf.term = negexp.term),
    q AS (SELECT unnest([{_sql_list(literals)}]) AS term)
    {_bm25_scored_sql(4, where="tf.doc_id NOT IN (SELECT doc_id FROM excl)")}
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


# `key merge` without the docs holding any of `s*`'s 4 top-df
# expansions, excluded before the top-k cut
_engine_entry(
    "ft_bm25_not_topk", "key merge -s*",
    _bm25_not_sql(["key", "merge"], "s", 4, BM25_K),
    ["O7 must_not (-term / -stem*) exclusion clause: per-query "
     "tombstone masking before the top-k cut"],
    max_expansions=4,
)


PHRASE_TERMS = ["merge", "sort"]
PHRASE_LITERAL = "batch"


def _bm25_phrase_sql(phrase: list[str], literals: list[str], k: int,
                     slop: int = 0) -> str:
    """BM25 with one PHRASE clause (match_phrase semantics): the phrase
    contributes ``(Σ idf of its terms) * tf_term(phrase_freq, dl)``
    where phrase_freq counts consecutive-position occurrences — plus
    ordinary term clauses for the literals. DuckDB computes phrase_freq
    with a list lambda over the 1-based token array: start positions i
    where toks[i..i+len-1] equals the phrase. ``slop > 0`` (bigrams
    only) switches to the engine's ordered-proximity window: start i
    matches when the second term occurs at some j in (i, i+1+slop]."""
    if slop > 0:
        if len(phrase) != 2:
            raise ValueError("slop oracle SQL supports bigrams only")
        cond = (
            f"toks[i] = '{phrase[0]}' AND len(list_filter("
            f"range(i+1, i+2+{slop}), j -> j <= len(toks) AND "
            f"toks[j] = '{phrase[1]}')) > 0"
        )
    else:
        cond = " AND ".join(
            f"toks[i+{j}] = '{t}'" for j, t in enumerate(phrase)
        )
    return f"""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9_]+)', 1) AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
    {_bm25_stat_ctes()},
    pf AS (
      SELECT doc_id,
             len(list_filter(range(1, len(toks)), i -> {cond})) AS pf
      FROM base
    ),
    phw AS (
      SELECT sum({_idf_sql()}) AS w
      FROM dft CROSS JOIN stats WHERE dft.term IN ({_sql_list(phrase)})
    ),
    q AS (SELECT unnest([{_sql_list(literals)}]) AS term),
    contrib AS (
      SELECT tf.doc_id AS doc_id,
             {_bm25_score_sql(13)} AS c
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN dft ON tf.term = dft.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      UNION ALL
      SELECT pf.doc_id AS doc_id,
             phw.w * {_tf_norm_sql("pf.pf", 13)} AS c
      FROM pf
      JOIN dl ON pf.doc_id = dl.doc_id
      CROSS JOIN stats CROSS JOIN phw
      WHERE pf.pf > 0
    )
    SELECT doc_id, round(sum(c), 4) AS score
    FROM contrib
    GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


@register(
    "ft_bm25_phrase_topk",
    _bm25_phrase_sql(PHRASE_TERMS, [PHRASE_LITERAL], BM25_K),
    covers=["O7 phrase (match_phrase) query — declarative positional "
            "twin: posexplode + consecutive-position equi-join chain"],
)
def ft_bm25_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`\"merge sort\" batch` as a PURE CATALYST plan over the per-doc
    feature table: phrase_freq is an ARRAY expression (count of start
    positions whose consecutive tokens equal the phrase — the same
    list-lambda shape the DuckDB oracle uses), computed in the SAME
    single corpus scan as the literal tf and dl. The phrase scores
    through the BM25 tf-normalization weighted by its terms' summed idf
    (Lucene PhraseQuery weighting). No UDF, no explode, no data shuffle
    — the round-5 join-chain twin shuffled the (doc_id, pos) stream
    through 58 Exchanges / 20 corpus scans."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    phrase, literals = PHRASE_TERMS, [PHRASE_LITERAL]
    all_terms = sorted(set(literals) | set(phrase))

    def _pf(toks: "F.Column") -> "F.Column":
        # start positions i (1-based) with toks[i+j] == phrase[j] for all
        # j; i ranges over [1, dl-1] like the oracle's range(1, len(toks))
        def match(i):
            cond = F.element_at(toks, i) == F.lit(phrase[0])
            for j, t in enumerate(phrase[1:], 1):
                cond = cond & (
                    F.element_at(toks, i + F.lit(j)) == F.lit(t)
                )
            return cond

        return F.when(
            F.size(toks) >= 2,
            F.size(F.filter(F.sequence(F.lit(1), F.size(toks) - 1), match)),
        ).otherwise(0)

    feats = _bm25_features(
        docs, all_terms, extra={"pf": _pf(F.col("_toks"))}
    )
    idx = {t: i for i, t in enumerate(all_terms)}
    stats = _bm25_stats_row(feats, len(all_terms))
    # phrase weight: Σ idf over phrase terms PRESENT in the corpus (the
    # oracle's dft-join drops absent terms)
    phw = None
    for t in sorted(set(phrase)):
        w = F.when(
            F.col(f"df_{idx[t]}") > 0, _idf_col(F.col(f"df_{idx[t]}"))
        ).otherwise(0.0)
        phw = w if phw is None else phw + w
    lit_c = None
    for t in sorted(set(literals)):
        c = F.when(
            F.col(f"tf_{idx[t]}") > 0,
            _idf_col(F.col(f"df_{idx[t]}")) * _tf_norm(F.col(f"tf_{idx[t]}")),
        ).otherwise(0.0)
        lit_c = c if lit_c is None else lit_c + c
    ph_c = F.when(F.col("pf") > 0, phw * _tf_norm(F.col("pf"))).otherwise(0.0)
    matched = sum(
        [(F.col(f"tf_{idx[t]}") > 0).cast("int") for t in sorted(set(literals))],
        (F.col("pf") > 0).cast("int"),
    )
    return (
        feats.crossJoin(F.broadcast(stats))
        .filter(matched > 0)
        .select("doc_id", F.round(lit_c + ph_c, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_K)
    )


# `"merge sort" batch` on the segment engine, under the declarative
# twin's oracle
_engine_entry(
    "ft_bm25_phrase_engine_topk",
    f'"{PHRASE_TERMS[0]} {PHRASE_TERMS[1]}" {PHRASE_LITERAL}',
    _bm25_phrase_sql(PHRASE_TERMS, [PHRASE_LITERAL], BM25_K),
    ["O7 phrase (match_phrase) query — positional segment engine: "
     "pos_bytes stream, numpy start-position intersection"],
)


PHRASE_SLOP = 2


# `"merge sort"~2 batch`: the phrase also matches in order with at most
# two tokens between its terms
_engine_entry(
    "ft_bm25_phrase_slop_topk",
    f'"{PHRASE_TERMS[0]} {PHRASE_TERMS[1]}"~{PHRASE_SLOP} {PHRASE_LITERAL}',
    _bm25_phrase_sql(PHRASE_TERMS, [PHRASE_LITERAL], BM25_K,
                     slop=PHRASE_SLOP),
    ["O7 sloppy-phrase (ordered proximity) query — greedy chain "
     "over positional postings, window oracle in SQL"],
)


# `key s*`: `s*` is one clause of its 4 top-df dictionary expansions
# (ties term asc; `sort` and `spark` fall outside the cap)
_engine_entry(
    "ft_bm25_prefix_topk", "key s*", _bm25_prefix_sql(["key"], "s", 4, BM25_K),
    ["O7 prefix (trailing-*) multi-term query, df-ranked "
     "max_expansions cap, dictionary range-scan expansion"],
    max_expansions=4,
)


# `key s*` with both clauses required: the expansion set counts once
# however many of its terms a doc holds
_engine_entry(
    "ft_bm25_prefix_and_topk", "key s*",
    _bm25_prefix_sql(["key"], "s", 4, BM25_K, msm=2),
    ["O7 prefix clause under min_should_match: the expansion set "
     "counts ONCE toward the clause gate (Lucene semantics)"],
    min_should_match="all", max_expansions=4,
)


def _bm25_page_sql(terms: list[str], k: int, page: int) -> str:
    """Page ``page`` (1-based) of the (score desc, doc_id asc) ranking —
    the oracle for search_after deep pagination: cursoring after page
    N's last row is definitionally OFFSET N*k. Ordered by the RAW score
    (rounding only in the projection) so the page boundary is cut in
    the same total order the engine uses."""
    return f"""
    WITH {_bm25_ctes("documents")},
    q AS (SELECT unnest([{_sql_list(terms)}]) AS term),
    scored AS (
      {_bm25_scored_sql(6, raw=True)}
    )
    SELECT doc_id, round(raw, 4) AS score FROM scored
    ORDER BY raw DESC, doc_id ASC
    LIMIT {k} OFFSET {k * (page - 1)}
    """


@register(
    "ft_bm25_page2",
    _bm25_page_sql(BM25_QUERY_TERMS, BM25_K, 2),
    covers=["O7 search_after deep pagination: next-k strictly after the "
            "previous page's (score, doc_id) cursor"],
)
def ft_bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 2 of the OR query by search_after: the next k hits strictly
    after page 1's last (score, doc_id), which the oracle takes as
    OFFSET k of the full ranking."""
    eng, index_dir = _docs_engine(spark, sf_dir)
    page1 = eng.topk(" ".join(BM25_QUERY_TERMS), BM25_K).collect()
    last = page1[-1]
    page2 = eng.topk(
        " ".join(BM25_QUERY_TERMS), BM25_K,
        search_after=(last["score"], last["doc_id"]),
    )
    return _engine_topk_to_external(page2, spark, index_dir)


def _bm25_boosted_sql(term_weights: dict[str, float], k: int) -> str:
    """BM25 with per-term query boosts (`term^B`): each term's
    contribution scales by its weight (a term in several clauses takes
    the MAX weight — here the weights are already resolved)."""
    vals = ", ".join(
        f"('{t}', {w!r})" for t, w in sorted(term_weights.items())
    )
    return f"""
    WITH {_bm25_ctes("documents")},
    q(term, w) AS (VALUES {vals})
    {_bm25_scored_sql(4, weight=" * q.w")}
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


# `key^3 sort^0.5 merge batch`: per-term query boosts
_engine_entry(
    "ft_bm25_boosted_topk", "key^3 sort^0.5 merge batch",
    _bm25_boosted_sql(
        {"key": 3.0, "sort": 0.5, "merge": 1.0, "batch": 1.0}, BM25_K
    ),
    ["O7 query-time term boosts (term^B, Lucene boost syntax)"],
)


def _bm25_explain_sql(terms: list[str]) -> str:
    """Explain oracle: the per-term breakdown of the top-1 doc of the
    OR ranking — (clause, kind, tf, df, idf, weight, tf_norm,
    contribution), contribution summing to the doc's BM25 score."""
    tfn, idf_expr = _tf_norm_sql("tf.tf"), _idf_sql()
    return f"""
    WITH {_bm25_ctes("documents")},
    q AS (SELECT unnest([{_sql_list(terms)}]) AS term),
    ranked AS (
      SELECT tf.doc_id AS doc_id,
             sum({idf_expr} * {tfn}) AS raw
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN dft ON tf.term = dft.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
      ORDER BY raw DESC, doc_id ASC
      LIMIT 1
    )
    SELECT tf.term AS clause, 'term' AS kind,
           tf.tf AS tf, dft.df AS df,
           round({idf_expr}, 4) AS idf,
           1.0 AS weight,
           round({tfn}, 4) AS tf_norm,
           round({idf_expr} * {tfn}, 4) AS contribution
    FROM tf
    JOIN ranked ON tf.doc_id = ranked.doc_id
    JOIN q ON tf.term = q.term
    JOIN dft ON tf.term = dft.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    ORDER BY clause ASC
    """


@register(
    "ft_bm25_explain",
    _bm25_explain_sql(BM25_QUERY_TERMS),
    covers=["O7 explain API: per-clause score breakdown of a hit"],
)
def ft_bm25_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explain the top-1 hit of the standard OR query: one row per
    matched clause with (tf, df, idf, weight, tf_norm, contribution);
    the contribution column sums to the hit's BM25 score (asserted in
    pytest against topk on every tier)."""
    eng, _ = _docs_engine(spark, sf_dir)
    q = " ".join(BM25_QUERY_TERMS)
    top = eng.topk(q, 1).collect()[0]
    pdf = eng.explain(q, int(top["doc_id"]))
    for c in ("idf", "tf_norm", "contribution"):
        pdf[c] = pdf[c].round(4)
    sdf = spark.createDataFrame(pdf)
    return sdf.select(
        "clause", "kind",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("idf").cast("double").alias("idf"),
        F.col("weight").cast("double").alias("weight"),
        F.col("tf_norm").cast("double").alias("tf_norm"),
        F.col("contribution").cast("double").alias("contribution"),
    )


MLT_DOC = 42
MLT_MQ, MLT_MTF, MLT_MDF = 25, 2, 5


def _mlt_sql(src_doc: int, k: int, mq: int, mtf: int, mdf: int) -> str:
    """more_like_this oracle: re-derive the LIKE doc's top tf*idf terms
    (tf >= mtf, df >= mdf, top-mq by weight desc / term asc — Lucene
    MoreLikeThis selection) and BM25-rank the corpus on them, excluding
    the source doc."""
    return f"""
    WITH {_bm25_ctes("documents")},
    cand AS (
      SELECT tf.term,
             tf.tf * {_idf_sql()} AS w
      FROM tf
      JOIN dft ON tf.term = dft.term
      CROSS JOIN stats
      WHERE tf.doc_id = {src_doc} AND tf.tf >= {mtf} AND dft.df >= {mdf}
    ),
    q AS (SELECT term FROM cand ORDER BY w DESC, term ASC LIMIT {mq}),
    scored AS (
      {_bm25_scored_sql(6, raw=True)}
    )
    SELECT doc_id, round(raw, 4) AS score FROM scored
    WHERE doc_id != {src_doc}
    ORDER BY raw DESC, doc_id ASC
    LIMIT {k}
    """


@register(
    "ft_bm25_mlt",
    _mlt_sql(MLT_DOC, BM25_K, MLT_MQ, MLT_MTF, MLT_MDF),
    covers=["O7 more_like_this: top tf*idf term selection from the LIKE "
            "doc, OR search, source excluded (Lucene MLT defaults)"],
)
def ft_bm25_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """more_like_this for document 42: re-analyze its text, keep terms
    with tf >= 2 whose index df >= 5, rank by tf*idf (ties term asc),
    cap at 25 (Lucene MoreLikeThis defaults), BM25-search the OR of the
    selected terms, and drop the source doc from the hits."""
    eng, index_dir = _docs_engine(spark, sf_dir)
    text = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == MLT_DOC)
        .select("text").collect()[0]["text"]
    )
    src_internal = int(
        _doc_id_map(spark, index_dir)
        .filter(F.col("ext_id") == MLT_DOC)
        .collect()[0]["engine_doc_id"]
    )
    out = eng.more_like_this(
        text, BM25_K, exclude_doc_id=src_internal,
        max_query_terms=MLT_MQ, min_term_freq=MLT_MTF, min_doc_freq=MLT_MDF,
    )
    return _engine_topk_to_external(out, spark, index_dir)


def _search_facets_sql(terms: list[str], size: int, bin_w: int) -> str:
    """Facet buckets over the FULL match set of an OR query: one terms
    facet per attribute column plus a fixed-width histogram facet over
    n_chars — count desc, ties value asc, top ``size`` per facet."""
    return f"""
    WITH {_tok_cte("documents")},
    m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({_sql_list(terms)})),
    j AS (
      SELECT d.lang, d.source, d.n_chars
      FROM documents d JOIN m ON d.doc_id = m.doc_id
    ),
    f AS (
      SELECT 'lang' AS facet, lang AS value FROM j
      UNION ALL
      SELECT 'source' AS facet, source AS value FROM j
      UNION ALL
      SELECT 'size_{bin_w}' AS facet,
             CAST(CAST(floor(n_chars / {bin_w}) * {bin_w} AS BIGINT) AS VARCHAR) AS value
      FROM j
    ),
    c AS (
      SELECT facet, value, count(*) AS n_docs FROM f
      WHERE value IS NOT NULL GROUP BY facet, value
    ),
    r AS (
      SELECT facet, value, n_docs,
             row_number() OVER (
               PARTITION BY facet ORDER BY n_docs DESC, value ASC
             ) AS rn
      FROM c
    )
    SELECT facet, value, n_docs FROM r WHERE rn <= {size}
    ORDER BY facet ASC, n_docs DESC, value ASC
    """


FACET_SIZE = 10
FACET_BIN = 256


def _match_ext_ids(eng, spark: SparkSession, index_dir: str) -> DataFrame:
    """External doc_ids of every doc matching the OR query."""
    matches = eng.match_ids(" ".join(BM25_QUERY_TERMS))
    ids = _doc_id_map(spark, index_dir)
    return matches.join(ids, matches["doc_id"] == ids["engine_doc_id"]).select(
        F.col("ext_id").alias("doc_id"))


@register(
    "ft_search_facets",
    _search_facets_sql(BM25_QUERY_TERMS, FACET_SIZE, FACET_BIN),
    covers=["O7 faceted search: terms + histogram aggregations over the "
            "FULL match set (OpenSearch aggregations semantics)"],
)
def ft_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet buckets over every doc matching the OR query: lang, source
    and 256-char size bins, top 10 per facet (count desc, ties value
    asc)."""
    from data_prep_opensearch_spark.operators.facets import facet_counts

    eng, index_dir = _docs_engine(spark, sf_dir)
    ext = _match_ext_ids(eng, spark, index_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    joined = ext.join(docs, "doc_id")
    return facet_counts(
        joined,
        {
            "lang": "lang",
            "source": "source",
            f"size_{FACET_BIN}":
                F.floor(F.col("n_chars") / FACET_BIN) * FACET_BIN,
        },
        size=FACET_SIZE,
    )


def _search_stats_sql(terms: list[str]) -> str:
    """stats aggregation over the OR query's full match set."""
    return f"""
    WITH {_tok_cte("documents")},
    m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({_sql_list(terms)})),
    j AS (SELECT d.n_chars FROM documents d JOIN m ON d.doc_id = m.doc_id)
    SELECT 'n_chars' AS field,
           count(n_chars) AS n_docs,
           round(CAST(min(n_chars) AS DOUBLE), 4) AS min_v,
           round(CAST(max(n_chars) AS DOUBLE), 4) AS max_v,
           round(CAST(sum(n_chars) AS DOUBLE), 4) AS sum_v,
           round(avg(n_chars), 4) AS avg_v,
           round(quantile_cont(n_chars, 0.5), 4) AS p50
    FROM j
    """


@register(
    "ft_search_stats",
    _search_stats_sql(BM25_QUERY_TERMS),
    covers=["O7 stats aggregation (min/max/sum/avg/median) over the "
            "full match set"],
)
def ft_search_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `stats` aggregation (with the exact interpolated median) of
    n_chars over every doc matching the OR query."""
    from data_prep_opensearch_spark.operators.facets import stats_counts

    eng, index_dir = _docs_engine(spark, sf_dir)
    ext = _match_ext_ids(eng, spark, index_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    agg = stats_counts(ext.join(docs, "doc_id"), ["n_chars"])
    return agg.select(
        "field", "n_docs",
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
        F.round("sum_v", 4).alias("sum_v"),
        F.round("avg_v", 4).alias("avg_v"),
        F.round("p50", 4).alias("p50"),
    )


HIGHLIGHT_WINDOW = 20


@register(
    "ft_bm25_highlight",
    _bm25_highlight_sql(BM25_QUERY_TERMS, BM25_K, HIGHLIGHT_WINDOW),
    covers=["O7 search-result highlighting: best-fragment selection "
            "(unified-highlighter re-analyze mode) over the top-k"],
)
def ft_bm25_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR query's top-k hits, each with its best 20-token fragment:
    the window holding the most query-term occurrences (ties to the
    earliest start), as lowercase joined tokens."""
    from data_prep_opensearch_spark.operators.highlight import (
        with_highlights,
    )

    ext = REGISTRY["ft_bm25_engine_topk"].fn(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    joined = docs.join(F.broadcast(ext), "doc_id")
    out = with_highlights(joined, "text", BM25_QUERY_TERMS,
                          window=HIGHLIGHT_WINDOW)
    return out.select(
        "doc_id", "score",
        F.col("hl_start").cast("long").alias("frag_start"),
        F.col("hl_matches").cast("long").alias("n_matches"),
        F.col("hl_fragment").alias("fragment"),
    )


# `qery~2 batch`: `qery` expands to the dictionary terms within 2 edits
# (`query` at boost 0.75, `key` at 1/3), closest first, capped at 10
_engine_entry(
    "ft_bm25_fuzzy_topk", "qery~2 batch",
    _bm25_fuzzy_sql(["batch"], "qery", 2, 10, BM25_K),
    ["O7 fuzzy (term~N) query — Levenshtein dictionary expansion "
     "with Lucene similarity boosts, closest-first cap"],
    max_expansions=10,
)


def _latest_prune_sql(terms: list[str], k: int) -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(doc_id AS VARCHAR) || ':' || substr(sha256(text), 1, 8) AS label,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS superseded
      FROM documents
    ),
    delta AS (
      SELECT doc_id + 1000000 AS doc_id, text || ' updated' AS text,
             CAST(doc_id AS VARCHAR) || ':'
               || substr(sha256(text || ' updated'), 1, 8) AS label,
             0 AS superseded
      FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
    {_bm25_ctes("corpus")},
    q AS (SELECT unnest([{_sql_list(terms)}]) AS term)
    SELECT c.label AS doc_label,
           round(sum(
             {_bm25_score_sql(13)}
           ), 4) AS score
    FROM tf
    JOIN q ON tf.term = q.term
    JOIN dft ON tf.term = dft.term
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN corpus c ON tf.doc_id = c.doc_id
    CROSS JOIN stats
    WHERE c.superseded = 0
    GROUP BY tf.doc_id, c.label
    ORDER BY score DESC, doc_label ASC
    LIMIT {k}
    """


@register(
    "ft_engine_latest_prune",
    _latest_prune_sql(BM25_QUERY_TERMS, BM25_K),
    covers=["latest-version-per-(repo,path) query-time pruning (S7 analogue)",
            "I-series delta add end-to-end", "O7 engine under version churn"],
)
def ft_engine_latest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR query over an index whose delta re-sends every 5th doc with
    changed text (a new commit of the same (repo, path)), answered with
    prune_superseded=True: old versions leave the results but stay in
    the corpus statistics, as the oracle's ``superseded`` flag mirrors
    (the reference's latest-pointer resolve, pipeline/io.py:36-76)."""
    from data_prep_opensearch_spark.operators.incremental import add_documents

    def build(docs: DataFrame, index_dir: str) -> None:
        build_index(spark, _index_source(docs, F.col("text")), index_dir,
                    n_shards=4, n_groups=2)
        # the delta re-sends every 5th doc with changed text: same (repo,
        # path), new commit. The publish pass runs after it; the gen
        # column survives the rewrite, so superseded masking (gen-ranked)
        # is unchanged
        delta = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" updated")))
        add_documents(spark, index_dir, _index_source(delta, F.col("text")))

    index_dir = _ensure_index(spark, sf_dir, "latest", build)
    eng = BM25Engine(spark, index_dir, cache=False, prune_superseded=True)
    topk = eng.topk(" ".join(BM25_QUERY_TERMS), BM25_K)
    stats = read_doc_stats(spark, index_dir).select(
        F.col("doc_id").alias("engine_doc_id"), "path", "sha256"
    )
    return (
        topk.join(stats, topk["doc_id"] == stats["engine_doc_id"])
        .select(
            F.concat(F.col("path"), F.lit(":"),
                     F.col("sha256").substr(1, 8)).alias("doc_label"),
            F.round(F.col("score"), 4).alias("score"),
        )
    )


def _bm25_code_sql(k: int) -> str:
    """Oracle for the 'code'-tokenizer engine path: DuckDB reproduces the
    Arrow marked-split (index_build.py:279-283) — camel boundaries and
    acronym boundaries rewritten to '_', then snake-split; an identifier
    contributes sub-tokens only when it splits into >1 pieces — then the
    standard BM25 math. The planted 64-doc corpus gives every matching
    doc a distinct doclen (dl = 11 + doc_id, tf identical within the
    matching classes), so rounded scores are strictly distinct and the
    top-k rank is forced without relying on tie-break order (engine
    internal docIDs are hash-ordered, not doc_id-ordered)."""
    return rf"""
    WITH src AS (
      SELECT doc_id,
             repeat('pad ', 5 + CAST(doc_id AS INTEGER)) ||
             CASE doc_id % 4
               WHEN 0 THEN 'parseJson handleInput'
               WHEN 1 THEN 'parse_json writeBuffer'
               WHEN 2 THEN 'JSONParser reset'
               ELSE 'parsed jsonify cleanup'
             END AS text
      FROM documents WHERE doc_id < 64
    ),
    idents AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9_]+'),
                                x -> x <> '')) AS ident
      FROM src
    ),
    pieces AS (
      SELECT doc_id, lower(ident) AS whole,
             list_filter(string_split(lower(
               regexp_replace(regexp_replace(ident,
                 '([a-z0-9])([A-Z])', '\1_\2', 'g'),
                 '([A-Z]+)([A-Z][a-z0-9])', '\1_\2', 'g')), '_'),
               x -> x <> '') AS subs
      FROM idents
    ),
    tok AS (
      SELECT doc_id, whole AS term FROM pieces
      UNION ALL
      SELECT doc_id, unnest(subs) AS term FROM pieces WHERE len(subs) > 1
    ),
    {_bm25_stat_ctes()},
    q AS (SELECT unnest(['json', 'parse']) AS term)
    {_bm25_scored_sql(4)}
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


def _ensure_code_index(spark: SparkSession, sf_dir: str) -> str:
    """A tokenizer='code' index over docs 0-63 rewritten as padded
    compound identifiers, one class per doc_id % 4."""
    def build(docs: DataFrame, index_dir: str) -> None:
        c = F.col("doc_id") % 4
        docs = docs.filter(F.col("doc_id") < 64).withColumn("text", F.concat(
            F.expr("repeat('pad ', 5 + cast(doc_id as int))"),
            F.when(c == 0, F.lit("parseJson handleInput"))
            .when(c == 1, F.lit("parse_json writeBuffer"))
            .when(c == 2, F.lit("JSONParser reset"))
            .otherwise(F.lit("parsed jsonify cleanup")),
        ))
        build_index(spark, _index_source(docs, F.col("text")), index_dir,
                    n_shards=4, n_groups=1, tokenizer="code")

    return _ensure_index(spark, sf_dir, "code", build)


# `parse json` over the code index: classes 0 and 1 match both terms
# (camelCase and snake_case splits), class 2 `json` only (JSONParser ->
# json + parser), class 3 nothing (`parsed` and `jsonify` are one-piece
# identifiers, and lowering is not stemming)
_engine_entry(
    "ft_bm25_code_topk", "parse json", _bm25_code_sql(BM25_K),
    ["§2.11 'code' tokenizer (identifier splitting) end-to-end through "
     "the segment engine — Arrow marked-split (index_build.py:279-283), "
     "sub-token query match ('parse' hits parseJson/parse_json; "
     "'parsed'/'jsonify' must NOT match)"],
    index=_ensure_code_index,
)


@register(
    "ft_exact_dedup",
    f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT sha256(text) AS content_fp,
           min(doc_id) AS keeper,
           count(*) AS n_dups
    FROM corpus GROUP BY sha256(text)
    """,
    covers=["exact dedup (hash-groupBy)", "D7 version dedup"],
)
def ft_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.dedup import exact_dedup

    out = exact_dedup(_corpus(spark, sf_dir))
    # exact_dedup uses sha2 = same hex as DuckDB sha256
    return out.select(F.col("content_fp"), F.col("keeper"), F.col("n_dups"))


_SHINGLE_SQL = """
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= 3
                 THEN list_transform(range(0, len(t) - 2),
                                     i -> t[i+1] || '_' || t[i+2] || '_' || t[i+3])
                 ELSE [array_to_string(t, '_')] END) AS shingle
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9_]+)', 1) AS t
              FROM corpus)
      )
"""


@register(
    "ft_minhash_signatures",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS ({_SHINGLE_SQL}),
    seeds AS (SELECT unnest(range(0, 16)) AS seed)
    SELECT doc_id, CAST(seed AS INT) AS seed,
           min(md5(concat(seed, ':', shingle))) AS minhash
    FROM sh CROSS JOIN seeds
    GROUP BY doc_id, seed
    """,
    covers=["MinHash dedup signatures", "X8 linear-shuffle near-dup path"],
)
def ft_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_corpus(spark, sf_dir))


@register(
    "ft_lsh_pairs",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS ({_SHINGLE_SQL}),
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    sig AS (
      SELECT doc_id, CAST(seed AS INT) AS seed,
             min(md5(concat(seed, ':', shingle))) AS minhash
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands_all AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             md5(array_to_string(list_sort(list(concat(seed, ':', minhash))), ',')) AS band_hash
      FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
    ),
    -- hot-bucket suppression (cap = 200), mirroring the engine's skew
    -- guard: a degenerate bucket would fan out O(m^2) in the self-join
    bands AS (
      SELECT bands_all.* FROM bands_all
      JOIN (SELECT band, band_hash FROM bands_all
            GROUP BY band, band_hash HAVING count(*) <= 200) ok
        USING (band, band_hash)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """,
    covers=["MinHash+LSH banded candidate join",
            "hot-bucket skew suppression (X8)"],
)
def ft_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_corpus(spark, sf_dir), max_bucket_size=200,
                             log_drops=True)


@register(
    "ft_ngram_jaccard",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh_all AS ({_SHINGLE_SQL}),
    -- hot-shingle suppression (df cap = 100), mirroring the engine's
    -- skew guard: jaccard is computed over the surviving shingles
    sh AS (
      SELECT * FROM sh_all WHERE shingle IN (
        SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 100)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(1.0 * n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.doc_id
    JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE 1.0 * n_inter / (sa.sz + sb.sz - n_inter) >= 0.5
    """,
    covers=["n-gram Jaccard near-dup (candidate-pruned exact)",
            "hot-shingle skew suppression (X8)"],
)
def ft_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_corpus(spark, sf_dir), threshold=0.5,
                               max_shingle_df=100, log_drops=True)


def _simhash_sql() -> str:
    """Generate the 64-bit simhash as portable SQL (hex-nibble bit tests)."""
    bit_sums = []
    for i in range(64):
        nib = f"(strpos('0123456789abcdef', substr(h, {i // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} >> {i % 4}) & 1)"
        bit_sums.append(f"sum(({bit} * 2 - 1) * tf) AS b{i}")
    nibbles = []
    for n in range(16):
        val = " + ".join(
            f"(CASE WHEN b{n * 4 + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
        )
        nibbles.append(f"substr('0123456789abcdef', ({val}) + 1, 1)")
    concat = " || ".join(nibbles)
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, md5(term) AS h FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '([a-z0-9_]+)', 1)) AS term
        FROM corpus
      ) GROUP BY doc_id, term
    ),
    sums AS (SELECT doc_id, {", ".join(bit_sums)} FROM tf GROUP BY doc_id)
    SELECT doc_id, {concat} AS simhash,
           substr({concat}, 1, 4) AS bucket
    FROM sums
    """


@register(
    "ft_simhash",
    _simhash_sql(),
    covers=["SimHash near-dup fingerprint (Charikar)"],
)
def ft_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.dedup import simhash64

    return simhash64(_corpus(spark, sf_dir))


@register(
    "ft_token_counts",
    r"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)', 1)) AS bpe_tokens
    FROM documents
    """,
    covers=["token counting (whitespace + BPE-ish)", "F15"],
)
def ft_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.analysis import token_count_cols

    d = load(spark, sf_dir, "documents")
    cols = token_count_cols(F.col("text"))
    return d.select("doc_id", cols["ws_tokens"].alias("ws_tokens"),
                    cols["bpe_tokens"].alias("bpe_tokens"))


@register(
    "ft_quality",
    """
    SELECT doc_id,
           round(
             0.25 * least(1.0, n_tok / 64.0)
             + 0.25 * (CASE WHEN n_chars > 0 THEN 1.0 * alpha / n_chars ELSE 0.0 END)
             + 0.25 * (1.0 - (CASE WHEN n_chars > 0 THEN 1.0 * punct / n_chars ELSE 0.0 END))
             + 0.25 * least(1.0, (CASE WHEN n_tok > 0 THEN 1.0 * n_dist / n_tok ELSE 0.0 END) * 2.0)
           , 6) AS quality
    FROM (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '([a-z0-9_]+)', 1)) AS n_tok,
             len(list_distinct(regexp_extract_all(lower(text), '([a-z0-9_]+)', 1))) AS n_dist,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct
      FROM documents
    )
    """,
    covers=["quality scoring (F17 graded)", "P7 eligibility heuristics"],
)
def ft_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.analysis import quality_score_col

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score_col(F.col("text")).alias("quality"))


def _langid_sql() -> str:
    from data_prep_opensearch_spark.functions.analysis import LANG_STOPWORDS

    score_cols = []
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"round(1.0 * len(list_filter(toks, x -> list_contains([{lst}], x)))"
            f" / greatest(len(toks), 1), 6) AS score_{lang}"
        )
    langs = sorted(LANG_STOPWORDS)
    m = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = {m} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), '([a-z0-9_]+)', 1) AS toks
      FROM documents
    ),
    s AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM t)
    SELECT doc_id, lang, score_de, score_en, score_es, score_fr,
           {pred} AS pred_lang
    FROM s
    """


@register("ft_langid", _langid_sql(), covers=["language-ID heuristic", "P15 route selector analogue"])
def ft_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.analysis import langid_scores

    d = load(spark, sf_dir, "documents")
    out = langid_scores(d, "text")
    return out.select("doc_id", "lang", "score_de", "score_en", "score_es",
                      "score_fr", "pred_lang")


@register(
    "ft_fingerprints",
    r"""
    SELECT doc_id,
           sha256(text) AS content_fp,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_fp
    FROM documents
    """,
    covers=["F9/F12 fingerprints", "X14 idempotent identity"],
)
def ft_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.analysis import fingerprint_cols

    d = load(spark, sf_dir, "documents")
    cols = fingerprint_cols(F.col("text"))
    return d.select("doc_id", cols["content_fp"].alias("content_fp"),
                    cols["norm_fp"].alias("norm_fp"))


# ---------------------------------------------------------------------------
# Embeddings: similarity search
# ---------------------------------------------------------------------------

@register(
    "emb_norms",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2
    FROM embeddings
    """,
    covers=["embedding column math (JVM-side, no UDF)"],
)
def emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.similarity import l2_norm

    e = load(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select("vec_id", F.round(l2_norm(vec), 6).alias("l2"))


_EMB_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
)
_EMB_NORM_A = "sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_EMB_NORM_Q = "sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@register(
    "emb_knn",
    f"""
    SELECT a.vec_id AS vec_id,
           round({_EMB_DOT} / ({_EMB_NORM_A} * {_EMB_NORM_Q}), 6) AS cos_sim
    FROM embeddings a
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    covers=["brute-force cosine top-k (exact ANN baseline)", "O7 top-k shape"],
)
def emb_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.similarity import cosine

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    a = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    return (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(a, qv), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "emb_centroids",
    """
    SELECT label, dim, round(avg(v), 6) AS centroid
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    GROUP BY label, dim
    """,
    covers=["per-label centroids (posexplode agg)", "IVF coarse-quantizer building block"],
)
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode(F.col("embedding")).alias("dim", "v"))
    return ex.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid")
    )


def _lsh_bucket_sql(vec: str, n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB expression for the engine's sign-LSH bucket id. The
    hyperplanes are DETERMINISTIC (similarity._hyperplanes: splitmix64,
    stateless), so their float64 values are emitted as SQL literals
    exactly — the same approach _simhash_sql takes for its 64 bit tests.
    A sign flip between engines would need |dot| within float-summation
    error (~1e-13) of zero, measure-zero for continuous embeddings."""
    from data_prep_opensearch_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(n_planes, dim)
    terms = []
    for i in range(n_planes):
        lits = ", ".join(repr(float(x)) for x in planes[i])
        dot = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"j -> CAST({vec}[j] AS DOUBLE) * ([{lits}])[j]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_PAIR_COS = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(a.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(b.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


@register(
    "emb_near_dup",
    f"""
    WITH allv AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    wb AS (
      SELECT vec_id, embedding,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM allv
    ),
    -- hot-bucket suppression (cap = 2000), mirroring the engine's guard
    fb AS (
      SELECT wb.* FROM wb
      JOIN (SELECT bucket FROM wb GROUP BY bucket
            HAVING count(*) <= 2000) ok USING (bucket)
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_PAIR_COS}, 6) AS cos_sim
    FROM fb a JOIN fb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_PAIR_COS}, 6) >= 0.999
    """,
    covers=["embedding-cosine near-dup via LSH buckets (scale path)",
            "hot-bucket skew suppression (X8)"],
)
def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.similarity import embedding_near_dup_pairs

    e = load(spark, sf_dir, "embeddings")
    clones = e.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    both = e.unionByName(clones).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return embedding_near_dup_pairs(both, threshold=0.999, log_drops=True)


@register(
    "emb_ann_lsh",
    f"""
    WITH wb AS (
      SELECT vec_id, embedding,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding, bucket FROM wb WHERE vec_id = 0)
    SELECT a.vec_id AS vec_id, round({_PAIR_COS.replace('b.embedding', 'q.embedding')}, 6) AS cos_sim
    FROM wb a CROSS JOIN q
    WHERE bit_count(CAST(xor(a.bucket, q.bucket) AS BIGINT)) <= 1
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
    covers=["LSH-bucketed ANN top-k (radius-1 multi-probe)"],
)
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.similarity import ann_lsh_topk

    e = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ann_lsh_topk(e, qvec, k=10)


# the driver compares oracles at this scale; our local check_oracle.py
# overrides it to whatever sf_dir it is invoked with
ORACLE_SF_ENV = "DPOSS_ORACLE_SF_DIR"
_ORACLE_SF_DEFAULT = "/root/testdata/sf0.01"


def _ivf_oracle_sql() -> str:
    """DuckDB oracle for emb_ann_ivf (round-4 task #5: flip the last
    `no_oracle` row). k-means training is iterative and not
    SQL-expressible, but it IS a deterministic pure function of the
    data (`ivf_train`: sample = first 2000 rows BY KEY ORDER; then
    `_kmeans_lite`, plain numpy) — so this generator re-derives the
    IDENTICAL codebook from the oracle-scale parquet with numpy and
    emits the centroids as SQL literals, exactly the trick the LSH
    oracle uses for its (data-independent) hyperplanes. DuckDB then
    RECOMPUTES the per-vector argmin assignment, the probe filter, and
    the final cosine ranking — everything downstream of training is
    independently re-executed, only the trained constants are shared.

    Argmin ties break to the LOWEST centroid index on both engines
    (numpy argmin / array_position-of-min in Spark; ORDER BY dist, cid
    + rn=1 here); a cross-engine flip would need two centroid distances
    within float-summation error, measure-zero for continuous data
    (same argument as the LSH sign emission, _lsh_bucket_sql)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from data_prep_opensearch_spark.operators.similarity import (
        _kmeans_lite,
        _nearest_clusters,
    )

    sf = os.environ.get(ORACLE_SF_ENV, _ORACLE_SF_DEFAULT)
    t = pq.read_table(
        os.path.join(sf, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    vid = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(vid, kind="stable")
    sample = emb[order[: min(2000, len(order))]]
    cents = _kmeans_lite(sample, 8)
    q = emb[int(np.where(vid == 0)[0][0])]
    probes = _nearest_clusters(cents, q, n_probe=2)

    dim = emb.shape[1]
    rows = ", ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cents[c])}])"
        for c in range(cents.shape[0])
    )
    qlits = f"[{', '.join(repr(float(x)) for x in q)}]"
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "j -> (CAST(e.embedding[j] AS DOUBLE) - c.cent[j]) "
        "* (CAST(e.embedding[j] AS DOUBLE) - c.cent[j])))"
    )
    qdot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ({qlits})[i]))"
    )
    norm_e = (
        "sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    norm_q = (
        f"sqrt(list_sum(list_transform({qlits}, x -> x * x)))"
    )
    return f"""
    WITH cents(cid, cent) AS (VALUES {rows}),
    d AS (
      SELECT e.vec_id, e.embedding, c.cid, {dist} AS dist
      FROM embeddings e CROSS JOIN cents c
    ),
    a AS (
      SELECT vec_id, embedding, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, cid ASC) AS rn
      FROM d
    )
    SELECT vec_id, round({qdot} / ({norm_e} * {norm_q}), 6) AS cos_sim
    FROM a
    WHERE rn = 1 AND cid IN ({", ".join(str(p) for p in probes)})
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """


@register(
    "emb_ann_ivf",
    _ivf_oracle_sql,  # lazy: embeds the codebook retrained at oracle scale
    covers=["IVF ANN (coarse quantizer + cluster probes)"],
)
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ivf_topk(e, qvec, k=10)


# ---------------------------------------------------------------------------
# Relational / prep-semantics
# ---------------------------------------------------------------------------

@register(
    "rel_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=["A1/A4 conditional aggregates", "X2/X3 pruning+pushdown"],
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double").alias("sum_disc_price"),
            (F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "rel_top_revenue",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 10
    """,
    covers=["J1 broadcast dimension joins", "O-series top-k"],
)
def rel_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "rel_events_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY day, event_type
    """,
    covers=["A5 per-day group-bys", "S12-style projections"],
)
def rel_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "rel_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    covers=["O3 argmax-by-recency", "O5 highest-version-wins"],
)
def rel_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@register(
    "rel_eligibility",
    """
    SELECT doc_id,
           CASE WHEN n_chars > 500 THEN 0 ELSE 1 END AS eligible,
           CASE WHEN n_chars > 500 THEN 'text_too_large' ELSE '' END AS reason,
           CASE WHEN n_chars > 400 AND n_chars <= 500 THEN 1 ELSE 0 END AS deferred
    FROM documents
    """,
    covers=["P6 deferral predicate", "P7 eligibility when-chain (skew router)"],
)
def rel_eligibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.prep import eligibility_flags

    return eligibility_flags(load(spark, sf_dir, "documents"))


@register(
    "rel_change_classification",
    """
    WITH prev AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM events WHERE event_id % 2 = 0 GROUP BY user_id
    ),
    cur AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM events WHERE event_id % 2 = 1 GROUP BY user_id
    )
    SELECT COALESCE(prev.user_id, cur.user_id) AS user_id,
           CASE WHEN prev.user_id IS NULL THEN 'new'
                WHEN cur.user_id IS NULL THEN 'removed'
                WHEN prev.n = cur.n AND prev.s = cur.s THEN 'unchanged'
                ELSE 'updated' END AS change_kind
    FROM prev FULL OUTER JOIN cur ON prev.user_id = cur.user_id
    """,
    covers=["I1 CDC change classification", "J2 prev⋈cur snapshot join", "J5 anti-join"],
)
def rel_change_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.prep import change_classification

    e = load(spark, sf_dir, "events")

    def snap(parity: int) -> DataFrame:
        return (
            e.filter(F.col("event_id") % 2 == parity)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
            )
            .withColumn("fp", F.concat_ws("|", F.col("n"), F.col("s")))
        )

    return change_classification(snap(0), snap(1), "user_id", "fp")


@register(
    "rel_carry_forward",
    """
    WITH prev AS (
      SELECT doc_id, upper(substr(text, 1, 20)) AS summary
      FROM documents WHERE doc_id % 3 = 0
    ),
    cur AS (
      SELECT doc_id,
             CASE WHEN source = 'src1' THEN 'S:' || substr(text, 1, 10) ELSE NULL END AS summary
      FROM documents
    )
    SELECT cur.doc_id AS doc_id,
           COALESCE(cur.summary, prev.summary) AS summary
    FROM cur LEFT JOIN prev ON cur.doc_id = prev.doc_id
    """,
    covers=["I2 carry-forward coalesce", "J3/J4 prev-state joins"],
)
def rel_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.prep import carry_forward

    d = load(spark, sf_dir, "documents")
    prev = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.upper(F.substring("text", 1, 20)).alias("summary")
    )
    cur = d.select(
        "doc_id",
        F.when(F.col("source") == "src1",
               F.concat(F.lit("S:"), F.substring("text", 1, 10))).alias("summary"),
    )
    return carry_forward(cur, prev, "doc_id", ["summary"])


@register(
    "rel_removed_users",
    """
    SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 0
    AND user_id NOT IN (SELECT user_id FROM events WHERE event_id % 2 = 1)
    """,
    covers=["J5 removed-from-source anti-join", "§2.7 set difference"],
)
def rel_removed_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    prev = e.filter(F.col("event_id") % 2 == 0).select("user_id").distinct()
    cur = e.filter(F.col("event_id") % 2 == 1).select("user_id").distinct()
    return prev.join(cur, "user_id", "left_anti")


@register(
    "rel_dedup_case_insensitive",
    """
    SELECT p_partkey, p_brand FROM (
      SELECT p_partkey, p_brand,
             row_number() OVER (PARTITION BY lower(p_brand) ORDER BY p_partkey) AS rn
      FROM part
    ) WHERE rn = 1
    """,
    covers=["D1/D2 casefold first-occurrence dedup"],
)
def rel_dedup_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.dedup import first_occurrence_dedup

    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return first_occurrence_dedup(p, "p_brand", "p_partkey")


@register(
    "rel_skip_unchanged",
    """
    SELECT w.doc_id AS doc_id FROM
      (SELECT doc_id, sha256(text) AS fp FROM documents) w
    WHERE NOT EXISTS (
      SELECT 1 FROM (SELECT doc_id, sha256(text) AS fp FROM documents
                     WHERE doc_id % 4 = 0) d
      WHERE d.doc_id = w.doc_id AND d.fp = w.fp
    )
    """,
    covers=["P12-P14 fingerprint-gated skip (anti-join pruning)", "X1 resume primitive"],
)
def rel_skip_unchanged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.prep import skip_unchanged

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("fp")
    )
    done = d.filter(F.col("doc_id") % 4 == 0)
    return skip_unchanged(d, done, "doc_id", "fp").select("doc_id")


@register(
    "rel_top2_events_per_user",
    """
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn <= 2
    """,
    covers=["O6 window-partitioned argmax (stratified head-k)"],
)
def rel_top2_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("user_id", "event_id", "value")
    )


@register(
    "ft_canonical_urls",
    """
    SELECT doc_id,
           'https://' || lower(upper(source) || '.Example.com') || '/Doc/' || doc_id AS url
    FROM documents
    """,
    covers=["F1 canonical_url (scheme default, host lowercase, fragment strip)"],
)
def ft_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize mixed-case URLs with fragments, canonicalize with the
    engine's pandas UDF; the oracle states the expected canonical form
    directly (host lowered, path case kept, #frag dropped)."""
    from data_prep_opensearch_spark.functions.text import canonical_url_udf

    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.upper(F.col("source")), F.lit(".Example.com/Doc/"),
        F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    return d.select("doc_id", canonical_url_udf(raw).alias("url"))


@register(
    "ft_clean_content",
    """
    SELECT doc_id,
           'Dup Line hyph-enated '
           || translate(substr(md5(text), 1, 8), '0123456789', 'ghijklmnop')
           || ' wrapped line Next to: x 3,4M 2021 n° 7 "q" v'
           || doc_id || ' end' AS cleaned
    FROM documents
    """,
    covers=["F4 full 30-step content cleaner", "D4 intra-doc line dedup",
            "de-hyphenation + wrap joining + camelCase repair"],
)
def ft_clean_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant every artifact family the F4 cleaner handles — page header,
    duplicated line (D4), cross-line hyphenation, hard wrap, camelCase
    wrap, tight colon, number+suffix+year, 'no.' numbering, curly quotes,
    ellipsis — around data-dependent tokens (md5 prefix + doc_id); the
    oracle states the expected cleaned form literally. Cleaner semantics:
    reference common/utils.py:528-631, see functions/cleaning.py."""
    from data_prep_opensearch_spark.functions.cleaning import clean_content_udf

    d = load(spark, sf_dir, "documents")
    # letters-only token: hex digits would collide with the cleaner's own
    # numeric rules (e.g. '306b' + 4 digits looks like a size+year run)
    h = F.translate(
        F.substring(F.md5(F.col("text")), 1, 8), "0123456789", "ghijklmnop"
    )
    raw = F.concat(
        F.lit("2 / 7 Dup Line\nDup Line\nhyph-\nenated "), h,
        F.lit("\nwrapped\nlineNext to:x 3,4M2021 no.7 “q” … v"),
        F.col("doc_id").cast("string"), F.lit(" end"),
    )
    return d.select("doc_id", clean_content_udf(raw).alias("cleaned"))


@register(
    "ft_chunk_prefix_dedup",
    """
    SELECT doc_id,
           substr(md5(text), 1, 8) || chr(10) || chr(10)
           || 'x' || substr(md5(text), 1, 8) || 'y' AS joined
    FROM documents
    """,
    covers=["D5 chunk-prefix dedup (vision.py:370-382 semantics)"],
)
def ft_chunk_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunks [h, h, 'x'+h+'y', 'x'+h+'z'] at prefix_len=9: the repeated
    h collapses, and 'x'+h+'z' shares the 9-char prefix of 'x'+h+'y' so
    only the first survives — exactly the keep-first prefix rule."""
    from data_prep_opensearch_spark.functions.cleaning import dedup_chunks_udf

    d = load(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("text")), 1, 8)
    chunks = F.array(
        h, h,
        F.concat(F.lit("x"), h, F.lit("y")),
        F.concat(F.lit("x"), h, F.lit("z")),
    )
    return d.select("doc_id", dedup_chunks_udf(9)(chunks).alias("joined"))


_CHUNK_TOK, _OVERLAP_TOK = 64, 16
_CHUNK_STEP = max(1, (_CHUNK_TOK - _OVERLAP_TOK) * 4)
_CHUNK_WIDTH = max(_CHUNK_STEP, _CHUNK_TOK * 4)


@register(
    "ft_chunks",
    f"""
    WITH c AS (
      SELECT doc_id, text,
             CAST(ceil(length(text) / {_CHUNK_STEP}.0) AS BIGINT) AS n
      FROM documents WHERE length(text) > 0
    ),
    e AS (SELECT doc_id, text, unnest(range(0, n)) AS g FROM c)
    SELECT doc_id, CAST(g AS INT) AS chunk_idx,
           substr(text, CAST(g * {_CHUNK_STEP} + 1 AS BIGINT), {_CHUNK_WIDTH}) AS chunk
    FROM e
    """,
    covers=["F16 tokenish chunking (overlapping windows, explode-shaped)"],
)
def ft_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.chunking import split_tokenish_chunks

    d = load(spark, sf_dir, "documents")
    return split_tokenish_chunks(d, "text", "doc_id", _CHUNK_TOK, _OVERLAP_TOK)


_URL_CASES_SQL = """
    CASE doc_id % 12
      WHEN 0 THEN 'https://example.com/page/' || doc_id
      WHEN 1 THEN 'http://example.com/a'
      WHEN 2 THEN 'https://user:pw@example.com/a'
      WHEN 3 THEN 'https:///nopath'
      WHEN 4 THEN 'https://localhost/a'
      WHEN 5 THEN 'https://192.168.1.10/a'
      WHEN 6 THEN 'https://github.com/org/repo/projects/1'
      WHEN 7 THEN 'https://github.com/pulls'
      WHEN 8 THEN 'https://intranet/a'
      WHEN 9 THEN 'https://example.x/a'
      WHEN 10 THEN 'https://example.com/f.exe'
      ELSE 'https://example.com/'
    END
"""

_URL_REASONS_SQL = """
    CASE doc_id % 12
      WHEN 0 THEN 'ok'
      WHEN 1 THEN 'https_required'
      WHEN 2 THEN 'embedded_credentials'
      WHEN 3 THEN 'missing_host'
      WHEN 4 THEN 'internal_host'
      WHEN 5 THEN 'internal_host'
      WHEN 6 THEN 'github_project_board'
      WHEN 7 THEN 'github_dashboard_page'
      WHEN 8 THEN 'host_missing_tld'
      WHEN 9 THEN 'host_bad_tld'
      WHEN 10 THEN 'dangerous_payload_extension'
      ELSE 'homepage_or_bare_domain'
    END
"""


@register(
    "ft_url_classify",
    f"""
    SELECT doc_id, {_URL_CASES_SQL} AS url, {_URL_REASONS_SQL} AS reason
    FROM documents
    """,
    covers=["P9 URL classification decision tree (offline rules, "
            "stages/enricher/utils.py:920-990)"],
)
def ft_url_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted URLs cycle through every offline branch of the reference's
    classifier; the engine runs the real decision tree (classify_url_py),
    the oracle states each branch's expected verdict."""
    from data_prep_opensearch_spark.functions.text import classify_url_reason_udf

    d = load(spark, sf_dir, "documents")
    url = (
        F.when(F.col("doc_id") % 12 == 0,
               F.concat(F.lit("https://example.com/page/"),
                        F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 12 == 1, F.lit("http://example.com/a"))
        .when(F.col("doc_id") % 12 == 2, F.lit("https://user:pw@example.com/a"))
        .when(F.col("doc_id") % 12 == 3, F.lit("https:///nopath"))
        .when(F.col("doc_id") % 12 == 4, F.lit("https://localhost/a"))
        .when(F.col("doc_id") % 12 == 5, F.lit("https://192.168.1.10/a"))
        .when(F.col("doc_id") % 12 == 6,
              F.lit("https://github.com/org/repo/projects/1"))
        .when(F.col("doc_id") % 12 == 7, F.lit("https://github.com/pulls"))
        .when(F.col("doc_id") % 12 == 8, F.lit("https://intranet/a"))
        .when(F.col("doc_id") % 12 == 9, F.lit("https://example.x/a"))
        .when(F.col("doc_id") % 12 == 10, F.lit("https://example.com/f.exe"))
        .otherwise(F.lit("https://example.com/"))
    )
    return d.select(
        "doc_id", url.alias("url"), classify_url_reason_udf(url).alias("reason")
    )


@register(
    "ft_clean_text",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'),
                               '\s+', ' ', 'g')) AS cleaned
    FROM documents
    """,
    covers=["F3 strip_html_light + whitespace collapse (JVM-side)"],
)
def ft_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.text import norm_ws

    d = load(spark, sf_dir, "documents")
    stripped = F.regexp_replace(F.col("text"), "<[^>]+>", " ")
    return d.select("doc_id", norm_ws(stripped).alias("cleaned"))


# ---------------------------------------------------------------------------
# Streaming twins (batch semantics checked by the oracle; the streaming
# path itself is tested in tests/test_streaming.py)
# ---------------------------------------------------------------------------

@register(
    "str_windowed_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
    covers=["tumbling-window rollup (streaming twin)", "§2.10 windowed agg"],
)
def str_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "60 minutes")
    return (
        e.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


@register(
    "str_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             -- CAST: DuckDB's windowed SUM returns HUGEINT; Spark returns
             -- BIGINT — values are identical, the hash compare is typed
             CAST(SUM(s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
    covers=["gap sessionization (stateful-op twin)", "window functions"],
)
def str_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.streaming.events import sessionize_batch

    out = sessionize_batch(load(spark, sf_dir, "events"), gap_minutes=30)
    return out.select(
        "user_id", "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Nested-map translations (J6/O5): per-language version-wins merge +
# churn-immune canonical fingerprint — reference translations.py:77-137
# ---------------------------------------------------------------------------

def _translations_sql() -> str:
    """Oracle: rebuilds the merged lang->entry block per doc AND the
    engine's canonical-JSON sha256 (sorted langs, sorted entry fields,
    null fields OMITTED — to_json's ignoreNullFields — string arrays
    casefold-sorted with empties dropped, ``_updated_ts`` excluded) by
    string construction — the test values contain no JSON-escapable
    characters, so concat IS the canonical serialization.

    Entry breadth = the reference's full per-language block: its
    TRANSLATION_FIELDS (title, subtitle, description, keywords —
    translations.py:14) + provenance meta. Canonical field order is
    name-sorted: _source_version, _status, description, keywords,
    subtitle, title. The churn rows (doc_id % 10 = 0) re-send identical
    content with a newer timestamp AND the keywords array reordered
    (with a blank element) — same fingerprint required."""
    d = "CAST(doc_id AS VARCHAR)"
    # canonical keyword lists (casefold-sorted, blanks dropped)
    kw_cur = f"'\"bm25-' || {d} || '\",\"Index\",\"Spark\"'"
    kw_new = "'\"Data\",\"new\"'"
    return f"""
    WITH base AS (
      SELECT doc_id,
             'en-title-' || {d} AS cur_en_title,
             'en-sub-' || {d} AS cur_en_sub,
             'en-desc-' || {d} AS cur_en_desc,
             doc_id % 5 + 3 AS cur_en_ver,
             (doc_id % 3 = 0) AS has_de,
             'de-title-' || {d} AS de_title,
             (doc_id % 2 = 0) AS has_inc,
             (doc_id % 10 = 0) AS churn_resend,
             'fr-title-' || {d} AS fr_title
      FROM documents
    ),
    m AS (
      SELECT doc_id, has_de, de_title, has_inc, fr_title,
             CASE WHEN churn_resend THEN cur_en_ver ELSE doc_id % 7 + 1 END AS inc_en_ver,
             CASE WHEN churn_resend THEN cur_en_title
                  ELSE 'en-new-' || {d} END AS inc_en_title,
             CASE WHEN churn_resend THEN cur_en_sub
                  ELSE 'en-sub2-' || {d} END AS inc_en_sub,
             CASE WHEN churn_resend THEN cur_en_desc
                  ELSE 'en-desc2-' || {d} END AS inc_en_desc,
             CASE WHEN churn_resend THEN {kw_cur} ELSE {kw_new} END AS inc_en_kw,
             CASE WHEN churn_resend THEN '2025-06-01T00:00:00Z'
                  ELSE '2025-01-01T00:00:00Z' END AS inc_en_ts,
             cur_en_title, cur_en_sub, cur_en_desc, cur_en_ver
      FROM base
    ),
    merged AS (
      SELECT doc_id, has_de, de_title, has_inc, fr_title,
             CASE WHEN has_inc AND inc_en_ver >= cur_en_ver
                  THEN inc_en_title ELSE cur_en_title END AS en_title,
             CASE WHEN has_inc AND inc_en_ver >= cur_en_ver
                  THEN inc_en_sub ELSE cur_en_sub END AS en_sub,
             CASE WHEN has_inc AND inc_en_ver >= cur_en_ver
                  THEN inc_en_desc ELSE cur_en_desc END AS en_desc,
             CASE WHEN has_inc AND inc_en_ver >= cur_en_ver
                  THEN inc_en_kw ELSE {kw_cur} END AS en_kw,
             CASE WHEN has_inc AND inc_en_ver >= cur_en_ver
                  THEN inc_en_ver ELSE cur_en_ver END AS en_ver,
             CASE WHEN has_inc AND inc_en_ver >= cur_en_ver
                  THEN inc_en_ts ELSE '2024-01-01T00:00:00Z' END AS en_ts
      FROM m
    ),
    fp AS (
      SELECT doc_id,
             sha256('{{' || concat_ws(',',
               CASE WHEN has_de THEN '"de":' ||
                 '{{"_source_version":2,"_status":"draft","description":"de-desc-'
                 || {d} || '","keywords":["DE","de"],"title":"' || de_title || '"}}' END,
               '"en":{{"_source_version":' || CAST(en_ver AS VARCHAR)
                 || ',"_status":"published","description":"' || en_desc
                 || '","keywords":[' || en_kw || '],"subtitle":"' || en_sub
                 || '","title":"' || en_title || '"}}',
               CASE WHEN has_inc THEN '"fr":' ||
                 '{{"_source_version":1,"_status":"draft","keywords":["fr"],"subtitle":"fr-sub-'
                 || {d} || '","title":"' || fr_title || '"}}' END
             ) || '}}') AS map_fp,
             TRUE AS churn_immune
      FROM merged
    )
    SELECT r.doc_id, r.lang, r.title, r.subtitle, r.description, r.keywords,
           r._status, r._source_version, r._updated_ts, fp.map_fp, fp.churn_immune
    FROM (
      SELECT doc_id, 'en' AS lang, en_title AS title, en_sub AS subtitle,
             en_desc AS description,
             replace(en_kw, '"', '') AS keywords,
             'published' AS _status, en_ver AS _source_version,
             en_ts AS _updated_ts
      FROM merged
      UNION ALL
      SELECT doc_id, 'de', de_title, NULL, 'de-desc-' || {d}, 'DE,de',
             'draft', 2, '2024-02-01T00:00:00Z'
      FROM merged WHERE has_de
      UNION ALL
      SELECT doc_id, 'fr', fr_title, 'fr-sub-' || {d}, NULL, 'fr',
             'draft', 1, '2025-01-01T00:00:00Z'
      FROM merged WHERE has_inc
    ) r JOIN fp USING (doc_id)
    """


@register(
    "rel_translations_merge",
    _translations_sql(),
    covers=["J6 nested-map translations merge (per-language "
            "highest-version-wins, incoming wins ties — "
            "translations.py:118-121)",
            "F7/F8 canonical recursive fingerprint, _updated_ts-churn-"
            "immune (translations.py:126-137, fingerprints.py:33-46)"],
)
def rel_translations_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.canonical import _canon_sort_strings
    from data_prep_opensearch_spark.operators.translations import (
        merge_translation_maps,
        translations_fp,
    )

    NULL_S = F.lit(None).cast("string")

    def entry(title, subtitle, description, keywords, status, ver, ts):
        return F.struct(
            title.alias("title"),
            subtitle.alias("subtitle"),
            description.alias("description"),
            keywords.alias("keywords"),
            F.lit(status).alias("_status"),
            ver.cast("long").alias("_source_version"),
            ts.alias("_updated_ts"),
        )

    ids = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    # keywords arrive UNSORTED with a blank element — the canonical
    # fingerprint must casefold-sort and drop the blank
    kw_cur = F.array(F.lit("Spark"), F.concat(F.lit("bm25-"), d),
                     F.lit("  "), F.lit("Index"))
    # same keyword SET as kw_cur, different raw order (churn re-send)
    kw_cur_reordered = F.array(F.lit("Index"), F.lit("  "),
                               F.concat(F.lit("bm25-"), d), F.lit("Spark"))
    cur = ids.withColumn(
        "translations",
        F.map_filter(
            F.create_map(
                F.lit("en"),
                entry(F.concat(F.lit("en-title-"), d),
                      F.concat(F.lit("en-sub-"), d),
                      F.concat(F.lit("en-desc-"), d),
                      kw_cur, "published",
                      d % 5 + 3, F.lit("2024-01-01T00:00:00Z")),
                F.lit("de"),
                F.when(d % 3 == 0, entry(
                    F.concat(F.lit("de-title-"), d), NULL_S,
                    F.concat(F.lit("de-desc-"), d),
                    F.array(F.lit("de"), F.lit("DE")), "draft",
                    F.lit(2), F.lit("2024-02-01T00:00:00Z"))),
            ),
            lambda k, v: v.isNotNull(),
        ),
    )
    # churn rows: identical content re-sent with a newer timestamp AND
    # the keywords array reordered — the fingerprint must not move
    churn = d % 10 == 0
    inc = ids.filter(d % 2 == 0).withColumn(
        "inc_translations",
        F.create_map(
            F.lit("en"),
            entry(
                F.when(churn, F.concat(F.lit("en-title-"), d))
                .otherwise(F.concat(F.lit("en-new-"), d)),
                F.when(churn, F.concat(F.lit("en-sub-"), d))
                .otherwise(F.concat(F.lit("en-sub2-"), d)),
                F.when(churn, F.concat(F.lit("en-desc-"), d))
                .otherwise(F.concat(F.lit("en-desc2-"), d)),
                F.when(churn, kw_cur_reordered)
                .otherwise(F.array(F.lit("new"), F.lit("Data"))),
                "published",
                F.when(churn, d % 5 + 3).otherwise(d % 7 + 1),
                F.when(churn, F.lit("2025-06-01T00:00:00Z"))
                .otherwise(F.lit("2025-01-01T00:00:00Z")),
            ),
            F.lit("fr"),
            entry(F.concat(F.lit("fr-title-"), d),
                  F.concat(F.lit("fr-sub-"), d), NULL_S,
                  F.array(F.lit("fr")), "draft",
                  F.lit(1), F.lit("2025-01-01T00:00:00Z")),
        ),
    )
    merged = (
        cur.join(inc, "doc_id", "left")
        .withColumn(
            "merged",
            merge_translation_maps(
                F.col("translations"), F.col("inc_translations")
            ),
        )
        .withColumn("map_fp", translations_fp(F.col("merged")))
        # churn immunity, asserted per row: bumping every _updated_ts
        # must not move the fingerprint
        .withColumn(
            "fp_bumped",
            translations_fp(F.transform_values(
                F.col("merged"),
                lambda k, v: v.withField("_updated_ts", F.lit("2099-01-01")),
            )),
        )
        .withColumn("churn_immune", F.col("map_fp") == F.col("fp_bumped"))
    )
    return merged.select(
        "doc_id", F.explode("merged").alias("lang", "entry"),
        "map_fp", "churn_immune",
    ).select(
        "doc_id", "lang",
        F.col("entry.title").alias("title"),
        F.col("entry.subtitle").alias("subtitle"),
        F.col("entry.description").alias("description"),
        # projected in canonical order (the raw order is churn-dependent;
        # the map_fp hashes the canonical form, so the visible column
        # shows exactly what was fingerprinted)
        F.array_join(_canon_sort_strings(F.col("entry.keywords")), ",")
        .alias("keywords"),
        F.col("entry._status").alias("_status"),
        F.col("entry._source_version").alias("_source_version"),
        F.col("entry._updated_ts").alias("_updated_ts"),
        "map_fp", "churn_immune",
    )


@register(
    "ft_clean_str",
    r"""
    WITH planted AS (
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN '  he' || chr(769) || 'llo  wo' || chr(776) || 'rld  '
          WHEN 1 THEN 'a' || chr(8203) || 'b' || chr(8204) || 'c'
                      || chr(8205) || 'd' || chr(65279) || 'e'
          WHEN 2 THEN 'ab' || chr(1) || chr(7) || 'cd' || chr(9) || chr(10)
                      || 'ef' || chr(31) || chr(127) || 'g'
          WHEN 3 THEN 'a' || chr(160) || 'b   c' || chr(160) || chr(160) || 'd'
          ELSE text
        END AS s
      FROM documents
    )
    SELECT doc_id,
      trim(regexp_replace(
        replace(
          regexp_replace(
            regexp_replace(nfc_normalize(s),
              '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
            '[\x01-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
          chr(160), ' '),
        '[ \t\n\r\f]+', ' ', 'g')) AS cleaned
    FROM planted
    """,
    covers=["F2 clean_str (common/utils.py:276-293): NFC normalize, "
            "zero-width + control strip, NBSP -> space, whitespace "
            "collapse — planted combining marks, ZW chars, controls"],
)
def ft_clean_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted inputs exercise each rule: case 0 combining marks (NFC
    composes e+U+0301 -> é), case 1 zero-width chars, case 2 control
    chars + tab/newline collapse, case 3 NBSP, case 4 natural text
    (already clean; trims only). Planted whitespace stays ASCII+NBSP —
    Python's \\s is unicode-wide while RE2's is ASCII, so exotic unicode
    spaces would be an engine-vs-oracle regex dialect artifact, not an
    operator difference."""
    from data_prep_opensearch_spark.functions.text import clean_str_udf

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    c = F.col("doc_id") % 5
    planted = d.withColumn(
        "s",
        # case 0 is DECOMPOSED (e + U+0301, o + U+0308) so the engine's
        # NFC step is exercised, not a no-op
        F.when(c == 0, F.lit("  he\u0301llo  wo\u0308rld  "))
        .when(c == 1, F.lit("a\u200bb\u200cc\u200dd\ufeffe"))
        .when(c == 2, F.lit("ab\x01\x07cd\t\nef\x1f\x7fg"))
        .when(c == 3, F.lit("a\u00a0b   c\u00a0\u00a0d"))
        .otherwise(F.col("text")),
    )
    return planted.select("doc_id", clean_str_udf(F.col("s")).alias("cleaned"))


@register(
    "ft_normalize_dates",
    r"""
    WITH planted AS (
      SELECT doc_id,
        CASE doc_id % 7
          WHEN 0 THEN '2024-03-05'
          WHEN 1 THEN '2024-03-05T10:20:30Z'
          WHEN 2 THEN '05/03/2024'
          WHEN 3 THEN 'March 5, 2024'
          WHEN 4 THEN '5th March 2024'
          WHEN 5 THEN '2024-03-05T23:30:00-05:00'
          ELSE 'not a date at all'
        END AS s
      FROM documents
    )
    SELECT doc_id,
      CASE doc_id % 7
        WHEN 0 THEN strftime(strptime(s, '%Y-%m-%d'), '%Y-%m-%d')
        WHEN 1 THEN strftime(
          strptime(s, '%Y-%m-%dT%H:%M:%SZ'), '%Y-%m-%d')
        WHEN 2 THEN strftime(strptime(s, '%d/%m/%Y'), '%Y-%m-%d')
        WHEN 3 THEN strftime(
          strptime(regexp_replace(s, '\s*,\s*', ' ', 'g'), '%B %d %Y'),
          '%Y-%m-%d')
        WHEN 4 THEN strftime(
          strptime(regexp_replace(s, '(\d{1,2})(st|nd|rd|th)\b', '\1', 'g'),
                   '%d %B %Y'), '%Y-%m-%d')
        WHEN 5 THEN strftime(
          CAST(strptime(s, '%Y-%m-%dT%H:%M:%S%z') AT TIME ZONE 'UTC'
               AS DATE), '%Y-%m-%d')
        ELSE NULL
      END AS norm_date
    FROM planted
    """,
    covers=["F5 date normalization (common/utils.py:143-209): ordinal "
            "strip, comma tolerance, ISO-first, day-first fallback, "
            "tz-aware -> UTC calendar date; each planted case exercises "
            "one branch, recomputed by DuckDB's parser for that branch"],
)
def ft_normalize_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One planted case per branch of the reference's priority order:
    ISO date, ISO datetime with Z, day-first numeric, month-name with
    comma, ordinal suffix, tz-offset datetime (UTC conversion moves the
    calendar date: 23:30-05:00 -> 04:30 next day), and garbage -> NULL
    (the reference raises; the UDF propagates null to the dropped-
    records sink)."""
    from data_prep_opensearch_spark.functions.text import normalize_date_udf

    d = load(spark, sf_dir, "documents").select("doc_id")
    c = F.col("doc_id") % 7
    planted = d.withColumn(
        "s",
        F.when(c == 0, F.lit("2024-03-05"))
        .when(c == 1, F.lit("2024-03-05T10:20:30Z"))
        .when(c == 2, F.lit("05/03/2024"))
        .when(c == 3, F.lit("March 5, 2024"))
        .when(c == 4, F.lit("5th March 2024"))
        .when(c == 5, F.lit("2024-03-05T23:30:00-05:00"))
        .otherwise(F.lit("not a date at all")),
    )
    return planted.select(
        "doc_id", normalize_date_udf(F.col("s")).alias("norm_date")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (synthetic payloads; full byte-histogram oracle)
# ---------------------------------------------------------------------------

def _binary_detect_sql() -> str:
    """Analytic oracle for the P10 detector: the synthetic payload table's
    five cases have byte compositions computable in portable SQL (fixed
    text blocks -> literal lengths; the digest case recovers each byte
    from DuckDB's sha256 hex and counts nonprintables directly)."""
    from data_prep_opensearch_spark.operators.multimodal import (
        _PAYLOAD_CONF,
        _PAYLOAD_CRLF,
        _PAYLOAD_PK_TAIL,
        _PAYLOAD_TEXT,
    )

    l_tail, l_text = len(_PAYLOAD_PK_TAIL), len(_PAYLOAD_TEXT)
    l_conf, l_crlf = len(_PAYLOAD_CONF), len(_PAYLOAD_CRLF)
    byte_j = (
        "((strpos('0123456789abcdef', substr(hx, CAST(2*j+1 AS INT), 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(hx, CAST(2*j+2 AS INT), 1)) - 1))"
    )
    digest_nonpr = (
        f"list_sum(list_transform(range(0, 32), j -> CASE WHEN NOT "
        f"(({byte_j} BETWEEN 32 AND 126) OR {byte_j} IN (9, 10, 13)) "
        f"THEN 1 ELSE 0 END))"
    )
    digest_nul = (
        f"list_sum(list_transform(range(0, 32), j -> "
        f"CASE WHEN {byte_j} = 0 THEN 1 ELSE 0 END))"
    )
    return f"""
    WITH d AS (
      SELECT i AS media_id, i % 5 AS c,
             sha256('bin' || CAST(i AS VARCHAR)) AS hx,
             1 + i % 3 AS rep_pk, 1 + i % 4 AS rep_txt,
             2 + i % 3 AS rep_dig, 2 + i % 2 AS rep_crlf
      FROM range(100) t(i)
    ),
    feats AS (
      SELECT media_id,
        CAST(CASE c WHEN 0 THEN 4 + {l_tail} * rep_pk
                    WHEN 1 THEN {l_text} * rep_txt
                    WHEN 2 THEN {l_conf} + 2
                    WHEN 3 THEN 32 * rep_dig
                    ELSE {l_crlf} * rep_crlf END AS BIGINT) AS n_bytes,
        (c = 0) AS has_pk_header,
        CAST(CASE c WHEN 2 THEN 2
                    WHEN 3 THEN rep_dig * {digest_nul}
                    ELSE 0 END AS BIGINT) AS n_nul,
        CASE c WHEN 0 THEN 2.0 / (4 + {l_tail} * rep_pk)
               WHEN 2 THEN 2.0 / {l_conf + 2}
               WHEN 3 THEN {digest_nonpr} / 32.0
               ELSE 0.0 END AS ratio
      FROM d
    )
    SELECT media_id, n_bytes, has_pk_header, n_nul,
           round(ratio, 6) AS nonprintable_ratio,
           (has_pk_header OR n_nul > 0 OR ratio > 0.05) AS is_binary
    FROM feats
    """


@register(
    "ft_placeholder",
    r"""
    WITH planted AS (
      SELECT doc_id,
        CASE doc_id % 9
          WHEN 0 THEN 'no content present'
          WHEN 1 THEN '   '
          WHEN 2 THEN substr(text, 1, 40) || chr(1) || chr(2) || chr(3)
          WHEN 3 THEN 'PK' || chr(3) || chr(4) || 'word/document.xml ' || substr(text, 1, 100)
          WHEN 4 THEN substr(text, 1, 50) || chr(0) || 'tail'
          WHEN 5 THEN NULL
          WHEN 6 THEN 'PK' || chr(3) || chr(4) || '_rels/.rels ' || substr(text, 1, 100)
          WHEN 7 THEN 'PK' || chr(3) || chr(4) || 'docProps/core.xml ' || substr(text, 1, 100)
          ELSE text
        END AS t
      FROM documents
    ),
    rules AS (
      SELECT doc_id, t, substr(t, 1, 4096) AS s FROM planted
    )
    SELECT doc_id,
      (t IS NULL
       OR (length(s) > 0 AND (
            (starts_with(s, 'PK' || chr(3) || chr(4))
             AND (position('[Content_Types].xml' IN s) > 0
                  OR position('ppt/' IN s) > 0 OR position('word/' IN s) > 0
                  OR position('xl/' IN s) > 0 OR position('docProps/' IN s) > 0
                  OR position('_rels/' IN s) > 0))
            OR position(chr(0) IN s) > 0
            OR position('�' IN s) > 0
            OR 1.0 * length(regexp_replace(s, '[^\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
                 / greatest(length(s), 1) > 0.05))
       OR lower(trim(t)) IN ('', 'no content present')
      ) AS is_placeholder
    FROM rules
    """,
    covers=["P11 placeholder-content predicate + text-variant binary "
            "detector (stages/enricher/utils.py:194-216, 1142-1146)"],
)
def ft_placeholder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.functions.text import is_placeholder_content

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    c = F.col("doc_id") % 9
    planted = d.withColumn(
        "t",
        F.when(c == 0, F.lit("no content present"))
        .when(c == 1, F.lit("   "))
        .when(c == 2, F.concat(F.substring("text", 1, 40),
                               F.lit("\x01\x02\x03")))
        .when(c == 3, F.concat(F.lit("PK\x03\x04word/document.xml "),
                               F.substring("text", 1, 100)))
        .when(c == 4, F.concat(F.substring("text", 1, 50),
                               F.lit("\x00tail")))
        .when(c == 5, F.lit(None).cast("string"))
        # cases 6/7 plant payloads whose ONLY office marker is _rels/ or
        # docProps/ — regression guard for the [:-1] marker-drop bug
        .when(c == 6, F.concat(F.lit("PK\x03\x04_rels/.rels "),
                               F.substring("text", 1, 100)))
        .when(c == 7, F.concat(F.lit("PK\x03\x04docProps/core.xml "),
                               F.substring("text", 1, 100)))
        .otherwise(F.col("text")),
    )
    return planted.select(
        "doc_id", is_placeholder_content(F.col("t")).alias("is_placeholder")
    )


@register(
    "mm_eligibility",
    """
    WITH d AS (
      SELECT i AS media_id,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(32 * (4 + i % 7) AS BIGINT) AS n_bytes,
             64 + i % 512 AS width, 64 + (i * 3) % 512 AS height,
             1000 * (1 + i % 60) AS duration_ms
      FROM range(64) t(i)
    ),
    r AS (
      SELECT media_id, kind, n_bytes,
             CASE
               WHEN n_bytes > 300 THEN 'file_too_large'
               WHEN kind = 'image'
                    AND greatest(width, height) > 400 THEN 'image_dimension_limit'
               WHEN kind IN ('audio', 'video')
                    AND duration_ms > 45000 THEN 'media_duration_limit'
             END AS reason
      FROM d
    )
    SELECT media_id, kind, n_bytes,
           CASE WHEN reason IS NULL THEN 1 ELSE 0 END AS eligible, reason
    FROM r
    """,
    covers=["P7 eligibility guardrails over typed media metadata "
            "(file-size / image-dim / duration caps — "
            "api/mysql_store.py:801-838)"],
)
def mm_eligibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.multimodal import (
        media_eligibility,
        synthetic_media_df,
    )

    return media_eligibility(synthetic_media_df(spark, 64))


@register(
    "mm_binary_detect",
    _binary_detect_sql(),
    covers=["P10 binary-payload text detector (PK header / NUL / "
            "nonprintable ratio — stages/enricher/utils.py:194-216)"],
)
def mm_binary_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_prep_opensearch_spark.operators.multimodal import (
        detect_binary_payloads,
        synthetic_payloads_df,
    )

    return detect_binary_payloads(synthetic_payloads_df(spark, 100))

_MM_FEATURE_SQL = ", ".join(
    f"round(len(list_filter(range(1, 33), "
    f"p -> substr(h, CAST(2*p AS INT), 1) = '{format(j, 'x')}')) / 32.0, 6) AS f{j}"
    for j in range(16)
)

@register(
    "mm_features",
    f"""
    WITH d AS (
      SELECT i AS media_id,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             sha256('media' || CAST(i AS VARCHAR)) AS h,
             4 + i % 7 AS reps
      FROM range(64) t(i)
    )
    SELECT media_id, kind, CAST(32 * reps AS BIGINT) AS n_bytes, {_MM_FEATURE_SQL}
    FROM d
    """,
    covers=["multimodal binary columns + Arrow feature extraction "
            "(stubbed decode; full 16-dim byte-histogram oracle)"],
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payload is a repeated sha256 digest, so the byte histogram's
    proportions equal the digest's own, and a byte's low nibble IS a hex
    character of the digest — which makes the full 16-dim feature vector
    expressible in portable SQL (the oracle above). payload_sha stays
    covered by pytest (test_multimodal_feature_extraction)."""
    from data_prep_opensearch_spark.operators.multimodal import (
        extract_features,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, 64)
    out = extract_features(media)
    return out.select(
        "media_id", "kind", "n_bytes",
        *[F.round(F.element_at("features", j + 1).cast("double"), 6).alias(f"f{j}")
          for j in range(16)],
    )


# ---------------------------------------------------------------------------
# Suggesters (OpenSearch `suggest` API over the segment dictionary)
# ---------------------------------------------------------------------------

SUGGEST_TEXT = "qery spork batchs tabel window"


def _term_suggest_sql(text: str, size: int, max_edits: int,
                      prefix_length: int, min_word_length: int) -> str:
    """Independent recomputation of the term suggester: dictionary from
    the tokenizer CTE, missing-mode gate, length window + pinned prefix
    + levenshtein budget, FuzzyTermsEnum similarity, score/df/term
    ranking, per-token size cap."""
    return f"""
    WITH {_tok_cte("documents")},
    dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    inp AS (
      SELECT DISTINCT token FROM (
        SELECT unnest(regexp_extract_all(lower('{text}'), '([a-z0-9_]+)', 1)) AS token
      )
      WHERE length(token) >= {min_word_length}
        AND token NOT IN (SELECT term FROM dict)
    ),
    cand AS (
      SELECT i.token, d.term AS suggestion,
             levenshtein(i.token, d.term) AS dist, d.df,
             1.0 - 1.0 * levenshtein(i.token, d.term)
                 / least(length(d.term), length(i.token)) AS score
      FROM inp i JOIN dict d
        ON abs(length(d.term) - length(i.token)) <= {max_edits}
       AND substr(d.term, 1, {prefix_length}) = substr(i.token, 1, {prefix_length})
       AND levenshtein(i.token, d.term) BETWEEN 1 AND {max_edits}
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY token ORDER BY score DESC, df DESC, suggestion ASC
      ) AS rn
      FROM cand WHERE score > 0
    )
    SELECT token, suggestion, CAST(dist AS INT) AS dist,
           round(score, 4) AS score, CAST(df AS BIGINT) AS df
    FROM ranked WHERE rn <= {size}
    ORDER BY token, score DESC, suggestion
    """


@register(
    "ft_suggest_term",
    _term_suggest_sql(SUGGEST_TEXT, 5, 2, 1, 4),
    covers=["O7m term suggester (did-you-mean): Lucene DirectSpellChecker "
            "candidate generation + similarity ranking over the dictionary"],
)
def ft_suggest_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean over the segment dictionary: `qery spork batchs
    tabel` are planted misspellings (window is in-vocabulary and must be
    SKIPPED by missing mode); `spork` draws two candidates (spark dist-1
    sim 0.8, sort dist-2 sim 0.5) so the similarity ranking is
    exercised, and the pinned first character excludes `key` from
    `qery`'s candidates."""
    from data_prep_opensearch_spark.operators.suggest import term_suggest

    eng, _ = _docs_engine(spark, sf_dir)
    out = term_suggest(eng, SUGGEST_TEXT, size=5, max_edits=2,
                       prefix_length=1, min_word_length=4,
                       suggest_mode="missing", sort="score")
    return out.withColumn("score", F.round("score", 4))


@register(
    "ft_suggest_complete",
    f"""
    WITH {_tok_cte("documents")},
    dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
    SELECT term AS suggestion, CAST(df AS BIGINT) AS df
    FROM dict WHERE term LIKE 's%'
    ORDER BY df DESC, term ASC LIMIT 5
    """,
    covers=["O7m completion suggester: df-weighted prefix completions "
            "(StringStartsWith dictionary point-read)"],
)
def ft_suggest_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion suggester for prefix `s`: six dictionary terms match,
    size=5 cuts the lowest-df one and two share df so the term-asc tie
    break is exercised."""
    from data_prep_opensearch_spark.operators.suggest import completion_suggest

    eng, _ = _docs_engine(spark, sf_dir)
    return completion_suggest(eng, "s", size=5)


# ---------------------------------------------------------------------------
# Search body: filter context / sort-by-field / function_score
# ---------------------------------------------------------------------------

def _match_scores_cte(terms: list[str]) -> str:
    """The OR query's full match set with raw BM25 scores, as CTE
    ``scored(doc_id, raw)``."""
    return f"""
    {_bm25_ctes("documents")},
    q AS (SELECT unnest([{_sql_list(terms)}]) AS term),
    scored AS (
      {_bm25_scored_sql(6, raw=True)}
    )
"""


def _attrs_engine_keyed(spark: SparkSession, sf_dir: str,
                        index_dir: str) -> DataFrame:
    """documents attributes re-keyed by ENGINE doc_id (the doc_stats
    `path` column carries the external id — broadcast-shaped map)."""
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("ext_id"), "lang", "source", "n_chars"
    )
    return _doc_id_map(spark, index_dir).join(docs, "ext_id").select(
        F.col("engine_doc_id").alias("doc_id"),
        "ext_id", "lang", "source", "n_chars",
    )


def _ext_topk(topk: DataFrame, attrs: DataFrame) -> DataFrame:
    """Map an engine-keyed result back to external doc_ids."""
    return topk.join(attrs.select("doc_id", "ext_id"), "doc_id").select(
        F.col("ext_id").alias("doc_id"),
        *[c for c in topk.columns if c != "doc_id"],
    )


@register(
    "ft_search_filtered",
    f"""
    WITH {_match_scores_cte(BM25_QUERY_TERMS)}
    SELECT s.doc_id, round(s.raw, 4) AS score
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    WHERE d.lang = 'en' AND d.n_chars >= 200
    ORDER BY s.raw DESC, s.doc_id ASC
    LIMIT {BM25_K}
    """,
    covers=["O7n bool.filter context: non-scoring attribute filter over "
            "the scored match set (idf unchanged — ES semantics)"],
)
def ft_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter context: the OR query's top 10 among English docs of >= 200
    chars, scored with index-wide statistics (a filter does not change
    idf, as in OpenSearch)."""
    from data_prep_opensearch_spark.operators.search_body import filtered_topk

    eng, index_dir = _docs_engine(spark, sf_dir)
    attrs = _attrs_engine_keyed(spark, sf_dir, index_dir)
    out = filtered_topk(
        eng, " ".join(BM25_QUERY_TERMS), attrs,
        (F.col("lang") == "en") & (F.col("n_chars") >= 200), k=BM25_K,
    )
    return _ext_topk(out, attrs).withColumn("score", F.round("score", 4))


@register(
    "ft_search_sorted",
    f"""
    WITH {_match_scores_cte(BM25_QUERY_TERMS)}
    SELECT s.doc_id, round(s.raw, 4) AS score, d.n_chars
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    WHERE d.lang = 'de'
    ORDER BY d.n_chars DESC, s.raw DESC, s.doc_id ASC
    LIMIT {BM25_K}
    """,
    covers=["O7n sort-by-field: OpenSearch `sort` param replaces "
            "relevance order (with _score as a secondary key)"],
)
def ft_search_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort param: German-language matches ordered by n_chars desc, with
    relevance as the secondary key."""
    from data_prep_opensearch_spark.operators.search_body import sorted_topk

    eng, index_dir = _docs_engine(spark, sf_dir)
    attrs = _attrs_engine_keyed(spark, sf_dir, index_dir)
    out = sorted_topk(
        eng, " ".join(BM25_QUERY_TERMS), attrs,
        sort=[("n_chars", False), ("score", False)], k=BM25_K,
        filter_expr=F.col("lang") == "de",
    )
    return _ext_topk(out, attrs).withColumn("score", F.round("score", 4))


@register(
    "ft_function_score",
    f"""
    WITH {_match_scores_cte(BM25_QUERY_TERMS)}
    SELECT s.doc_id, round(s.raw, 4) AS score,
           round(ln(1.0 + d.n_chars), 4) AS func_value,
           round(s.raw * ln(1.0 + d.n_chars), 4) AS new_score
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    ORDER BY s.raw * ln(1.0 + d.n_chars) DESC, s.doc_id ASC
    LIMIT {BM25_K}
    """,
    covers=["O7n function_score: field_value_factor (log1p of a doc "
            "field) combined with the query score, re-cut on the "
            "combined score"],
)
def ft_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """function_score with field_value_factor: new_score = bm25 *
    ln(1 + n_chars) (boost_mode multiply), the top k cut on new_score."""
    from data_prep_opensearch_spark.operators.search_body import (
        function_score_topk,
    )

    eng, index_dir = _docs_engine(spark, sf_dir)
    attrs = _attrs_engine_keyed(spark, sf_dir, index_dir)
    out = function_score_topk(
        eng, " ".join(BM25_QUERY_TERMS), attrs,
        F.log1p(F.col("n_chars")), k=BM25_K, boost_mode="multiply",
    )
    return _ext_topk(out, attrs).select(
        "doc_id", F.round("score", 4).alias("score"),
        F.round("func_value", 4).alias("func_value"),
        F.round("new_score", 4).alias("new_score"),
    )


SIGTERMS_QUERY = "dup"
SIGTERMS_SIZE = 10
SIGTERMS_MIN_DC = 3


@register(
    "ft_significant_terms",
    f"""
    WITH tokd AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_extract_all(lower(text), '([a-z0-9_]+)', 1)) AS term
      FROM documents
    ),
    m AS (SELECT DISTINCT doc_id FROM tokd WHERE term = '{SIGTERMS_QUERY}'),
    fgn AS (SELECT count(*) AS fg_n FROM m),
    bgn AS (SELECT count(*) AS bg_n FROM documents),
    bg AS (SELECT term, count(*) AS bg_df FROM tokd GROUP BY term),
    fg AS (
      SELECT t.term, count(*) AS fg_df
      FROM tokd t JOIN m ON t.doc_id = m.doc_id
      GROUP BY t.term
    )
    SELECT fg.term, fg.fg_df, bg.bg_df,
           round((1.0 * fg.fg_df / fgn.fg_n - 1.0 * bg.bg_df / bgn.bg_n)
                 * (1.0 * fg.fg_df / fgn.fg_n)
                 / (1.0 * bg.bg_df / bgn.bg_n), 6) AS score
    FROM fg JOIN bg ON fg.term = bg.term
    CROSS JOIN fgn CROSS JOIN bgn
    WHERE fg.fg_df >= {SIGTERMS_MIN_DC}
      AND 1.0 * fg.fg_df / fgn.fg_n > 1.0 * bg.bg_df / bgn.bg_n
    ORDER BY (1.0 * fg.fg_df / fgn.fg_n - 1.0 * bg.bg_df / bgn.bg_n)
             * (1.0 * fg.fg_df / fgn.fg_n) / (1.0 * bg.bg_df / bgn.bg_n) DESC,
             fg.term ASC
    LIMIT {SIGTERMS_SIZE}
    """,
    covers=["O7o significant_terms aggregation: JLH-scored foreground "
            "vs background term frequencies over the match set"],
)
def ft_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_terms of the 25 docs matching `dup`: the JLH score of
    each term's foreground df against its index df, min_doc_count 3.
    `dup` tops its own match set, as in OpenSearch."""
    from data_prep_opensearch_spark.operators.facets import significant_terms

    eng, index_dir = _docs_engine(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("ext_id"), "text"
    ).join(_doc_id_map(spark, index_dir), "ext_id").select(
        F.col("engine_doc_id").alias("doc_id"), "text"
    )
    out = significant_terms(
        eng, SIGTERMS_QUERY, docs, size=SIGTERMS_SIZE,
        min_doc_count=SIGTERMS_MIN_DC,
    )
    return out.withColumn("score", F.round("score", 6))


# ---------------------------------------------------------------------------
# multi_match: per-field indexes (title derived from text) + dis_max
# ---------------------------------------------------------------------------

TITLE_TOKENS = 5
MM_TITLE_BOOST = 2.0
MM_TIE = 0.3


def _ensure_title_index(spark: SparkSession, sf_dir: str) -> str:
    """Second FIELD index: content = the doc's derived title (first
    TITLE_TOKENS tokens). Built from the SAME (repo, path, commit) keys
    and n_shards as the text index, so assign_doc_ids (a pure function
    of keys) puts every doc at the same docID in both — the alignment
    multi_match combines on."""
    title = F.array_join(F.slice(_tokens(F.col("text")), 1, TITLE_TOKENS), " ")
    return _ensure_index(spark, sf_dir, f"title{TITLE_TOKENS}", lambda docs, d: (
        build_index(spark, _index_source(docs, title), d, n_shards=4, n_groups=1)))


def _field_scored_cte(rel: str, alias: str, terms: list[str]) -> str:
    """One field's BM25 scored-match CTE block (per-field statistics —
    best_fields semantics), emitting `scored_{alias}(doc_id, raw)`."""
    a = f"_{alias}"
    return f"""
    {_bm25_ctes(rel, a)},
    scored{a} AS (
      {_bm25_scored_sql(6, f"q{a}", terms, raw=True, sfx=a)}
    )
"""


def _multi_match_sql(terms: list[str], k: int, match_type: str) -> str:
    """Two-field multi_match oracle: text field + derived title field
    (first TITLE_TOKENS tokens), title boosted MM_TITLE_BOOST,
    dis_max + MM_TIE tie_breaker (best_fields) or plain sum
    (most_fields). NOTE: the title index's avgdl/df are computed over
    ALL docs (the engine indexes every doc's title), so the title
    relation must cover every doc too."""
    if match_type == "best_fields":
        final = f"best + {MM_TIE} * (total - best)"
    else:
        final = "total"
    return f"""
    WITH titles AS (
      SELECT doc_id,
             array_to_string((regexp_extract_all(lower(text), '([a-z0-9_]+)', 1))[1:{TITLE_TOKENS}], ' ') AS text
      FROM documents
    ),
    {_field_scored_cte('documents', 't', terms)},
    {_field_scored_cte('titles', 'h', terms)},
    u AS (
      SELECT doc_id, raw * 1.0 AS s FROM scored_t
      UNION ALL
      SELECT doc_id, raw * {MM_TITLE_BOOST} AS s FROM scored_h
    ),
    agg AS (SELECT doc_id, max(s) AS best, sum(s) AS total FROM u GROUP BY doc_id)
    SELECT doc_id, round({final}, 4) AS score
    FROM agg
    ORDER BY ({final}) DESC, doc_id ASC
    LIMIT {k}
    """


def _multi_match_entry(name: str, match_type: str, covers: list[str]) -> None:
    """Register multi_match ``match_type`` of the OR query over the text
    field and the derived title field, boosted MM_TITLE_BOOST, each field
    keeping its own idf and avgdl (ES per-field statistics)."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        text, text_dir = _docs_engine(spark, sf_dir)
        title = BM25Engine(spark, _ensure_title_index(spark, sf_dir), cache=False)
        out = multi_match_topk(
            {"text": (text, 1.0), "title": (title, MM_TITLE_BOOST)},
            " ".join(BM25_QUERY_TERMS), k=BM25_K, match_type=match_type,
            tie_breaker=MM_TIE)
        return _engine_topk_to_external(out, spark, text_dir)

    REGISTRY[name] = QuerySpec(
        fn, _multi_match_sql(BM25_QUERY_TERMS, BM25_K, match_type), covers)


# (text, title^2) with tie_breaker 0.3
_multi_match_entry(
    "ft_multi_match", "best_fields",
    ["O7p multi_match best_fields: per-field indexes, dis_max + "
     "tie_breaker, per-field boosts and statistics"],
)
# the boosted per-field score sum (most_fields reads no tie_breaker)
_multi_match_entry(
    "ft_multi_match_most", "most_fields",
    ["O7p multi_match most_fields: boosted per-field score sum"],
)


SYN_GROUP = ["stream", "batch", "dup"]
SYN_LIT = "sort"


def _bm25_synonyms_sql(group: list[str], lit: str, k: int) -> str:
    """BM25 with a query-time synonym group under Lucene SynonymQuery
    blended statistics: every group member scores with idf(max df over
    the group) and its OWN tf_norm; the group is ONE clause under
    min_should_match=2 next to the literal clause."""
    return f"""
    WITH {_bm25_ctes("documents")},
    bdf AS (SELECT max(df) AS bdf FROM dft WHERE term IN ({_sql_list(group)})),
    contrib AS (
      SELECT tf.doc_id,
             CASE WHEN tf.term = '{lit}'
                  THEN {_idf_sql()}
                  ELSE {_idf_sql(df="bdf.bdf")}
             END
             * {_tf_norm_sql("tf.tf", 13)} AS c,
             CASE WHEN tf.term = '{lit}' THEN 'lit' ELSE 'grp' END AS clause
      FROM tf
      JOIN dft ON tf.term = dft.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats CROSS JOIN bdf
      WHERE tf.term IN ({_sql_list([*group, lit])})
    ),
    agg AS (
      SELECT doc_id, sum(c) AS raw, count(DISTINCT clause) AS n_clauses
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, round(raw, 4) AS score
    FROM agg WHERE n_clauses >= 2
    ORDER BY raw DESC, doc_id ASC
    LIMIT {k}
    """


# `sort stream` with both clauses required, `stream` expanded through
# the synonym map {stream: [batch, dup]} into one clause whose members
# all score with the idf of the group's max df
_engine_entry(
    "ft_bm25_synonyms", f"{SYN_LIT} {SYN_GROUP[0]}",
    _bm25_synonyms_sql(SYN_GROUP, SYN_LIT, BM25_K),
    ["O7q query-time synonyms: Lucene SynonymQuery blended "
     "statistics (idf of max group df), group counts once "
     "under min_should_match"],
    min_should_match=2, synonyms={SYN_GROUP[0]: SYN_GROUP[1:]},
)


RESCORE_WINDOW = 50
RESCORE_QW = 1.0
RESCORE_RW = 2.0


def _rescore_sql(terms: list[str], phrase: list[str], window: int, k: int,
                 qw: float, rw: float) -> str:
    """rescore oracle: primary OR-query window (raw-score order), then
    new_score = qw*primary + rw*phrase_score for window docs the phrase
    matches (phrase scored (Σ idf) * tf_norm(phrase_freq, dl) — the
    engine's match_phrase weighting), primary-only otherwise."""
    cond = " AND ".join(
        f"toks[i+{j}] = '{t}'" for j, t in enumerate(phrase)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9_]+)', 1) AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
    {_bm25_stat_ctes()},
    prim AS (
      {_bm25_scored_sql(6, terms=terms, raw=True)}
    ),
    win AS (
      SELECT doc_id, raw FROM prim
      ORDER BY raw DESC, doc_id ASC LIMIT {window}
    ),
    pf AS (
      SELECT doc_id,
             len(list_filter(range(1, len(toks)), i -> {cond})) AS pf
      FROM base
    ),
    phw AS (
      SELECT sum({_idf_sql()}) AS w
      FROM dft CROSS JOIN stats WHERE dft.term IN ({_sql_list(phrase)})
    ),
    sec AS (
      SELECT pf.doc_id,
             phw.w * {_tf_norm_sql("pf.pf", 13)} AS s
      FROM pf
      JOIN dl ON pf.doc_id = dl.doc_id
      CROSS JOIN stats CROSS JOIN phw
      WHERE pf.pf > 0
    ),
    comb AS (
      SELECT win.doc_id, win.raw,
             sec.s AS rs,
             CASE WHEN sec.s IS NULL THEN {qw} * win.raw
                  ELSE {qw} * win.raw + {rw} * sec.s END AS ns
      FROM win LEFT JOIN sec ON win.doc_id = sec.doc_id
    )
    SELECT doc_id, round(raw, 4) AS score,
           round(rs, 4) AS rescore_score,
           round(ns, 4) AS new_score
    FROM comb
    ORDER BY ns DESC, doc_id ASC
    LIMIT {k}
    """


@register(
    "ft_bm25_rescore",
    _rescore_sql(BM25_QUERY_TERMS, PHRASE_TERMS, RESCORE_WINDOW, BM25_K,
                 RESCORE_QW, RESCORE_RW),
    covers=["O7r rescore window: Lucene QueryRescorer — phrase-proximity "
            "second pass over the first-pass top window only"],
)
def ft_bm25_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rescore: the OR query's top-50 window re-ranked by the phrase
    `\"merge sort\"` at rescore_weight 2 (score_mode total); window docs
    without the phrase keep their primary score."""
    from data_prep_opensearch_spark.operators.search_body import rescore_topk

    eng, index_dir = _docs_engine(spark, sf_dir)
    out = rescore_topk(
        eng, " ".join(BM25_QUERY_TERMS),
        '"' + " ".join(PHRASE_TERMS) + '"',
        window_size=RESCORE_WINDOW, k=BM25_K,
        query_weight=RESCORE_QW, rescore_weight=RESCORE_RW,
        score_mode="total",
    )
    return _engine_topk_to_external(out, spark, index_dir)


@register(
    "rel_date_histogram",
    """
    SELECT date_trunc('week', ts) AS bucket,
           event_type,
           count(*) AS n_docs,
           round(sum(value), 4) AS sum_value,
           floor(round(sum(value), 4) * 10000 / count(*)) / 10000 AS avg_value
    FROM events
    GROUP BY bucket, event_type
    ORDER BY bucket, event_type
    """,
    covers=["O7s date_histogram aggregation: calendar-interval buckets "
            "x terms sub-agg with metric sub-aggregations"],
)
def rel_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenSearch date_histogram (calendar week) crossed with an
    event_type terms sub-agg, carrying sum/avg metric sub-aggs — one
    map-side-combinable hash aggregate, bucket cardinality = weeks x
    event types."""
    from data_prep_opensearch_spark.operators.facets import date_histogram

    ev = load(spark, sf_dir, "events")
    out = date_histogram(
        ev, "ts", "week", by=["event_type"],
        metrics={"sum_value": F.sum("value"), "avg_value": F.avg("value")},
    )
    # avg derives from the ROUNDED sum via floor-truncation: round()
    # conventions differ at exact .5 boundaries (Spark half-ups the
    # decimal string, DuckDB rounds the binary double — 2409.18/48
    # = ...50.19125 rounded apart), while floor() of the identical
    # IEEE quotient is convention-free on both engines
    rs = F.round("sum_value", 4)
    return out.select(
        "bucket", "event_type", "n_docs",
        rs.alias("sum_value"),
        (F.floor(rs * 10000 / F.col("n_docs")) / 10000).alias("avg_value"),
    )


WILD_LIT = "row"
WILD_RE = "s(can|ort)"
WILD_PAT_SQLRX = "b.g"  # engine form: b?g


def _bm25_wildcard_sql(lit: str, rx: str, wild_rx: str, cap: int, k: int,
                       msm: int) -> str:
    """BM25 with a REGEXP clause and a WILDCARD clause next to a
    literal: each pattern expands to its top-``cap`` dictionary matches
    by df (term-asc ties) — the engine's ``expand_wildcard`` rule —
    scores as a scoring-boolean, and counts ONCE toward msm."""
    return f"""
    WITH {_bm25_ctes("documents")},
    {_capped_expansion_sql("exp_re", f"regexp_full_match(term, '{rx}')", cap)},
    {_capped_expansion_sql("exp_w", f"regexp_full_match(term, '{wild_rx}')", cap)},
    q AS (
      SELECT '{lit}' AS term, 'lit' AS clause
      UNION ALL SELECT term, 're' AS clause FROM exp_re
      UNION ALL SELECT term, 'wild' AS clause FROM exp_w
    ),
    qd AS (SELECT DISTINCT term FROM q),
    nclause AS (
      SELECT tf.doc_id, count(DISTINCT q.clause) AS nc
      FROM tf JOIN q ON tf.term = q.term GROUP BY tf.doc_id
    ),
    scored AS (
      {_bm25_scored_sql(6, "qd")}
    )
    SELECT s.doc_id, s.score
    FROM scored s JOIN nclause ON s.doc_id = nclause.doc_id
    WHERE nclause.nc >= {msm}
    ORDER BY s.score DESC, s.doc_id ASC
    LIMIT {k}
    """


# `row /s(can|ort)/ b?g` with 2 of 3 clauses required: the regexp
# (scan, sort) and the wildcard (big) are one clause each
_engine_entry(
    "ft_bm25_wildcard_topk", f"{WILD_LIT} /{WILD_RE}/ b?g",
    _bm25_wildcard_sql(WILD_LIT, WILD_RE, WILD_PAT_SQLRX, 50, BM25_K, 2),
    ["O7t wildcard (?/* infix) + regexp (/.../ anchored) query "
     "clauses: dictionary expansion under the df-ranked cap, "
     "one clause each under min_should_match"],
    min_should_match=2,
)
