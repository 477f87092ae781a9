"""Suggesters: OpenSearch's `suggest` API over the segment index.

The reference serves its corpus through OpenSearch, whose search body
accepts `suggest` sections — the term suggester ("did you mean":
per-token spelling corrections drawn from the index dictionary) and the
completion suggester (prefix -> ranked completions). This module is
that capability over the segment index:

- :func:`term_suggest` — Lucene DirectSpellChecker semantics: analyze
  the input text with the index's own tokenizer, gate each token by
  ``min_word_length`` and ``suggest_mode`` (``missing`` = only tokens
  absent from the dictionary, ``popular`` = only candidates with higher
  df than the input token, ``always``), and rank dictionary candidates
  within ``max_edits`` Levenshtein distance by the similarity score
  ``1 - dist / min(|token|, |candidate|)`` (the same FuzzyTermsEnum
  formula the fuzzy-query path boosts with) — ``sort="score"`` orders
  score desc / df desc / term asc, ``sort="frequency"`` df desc /
  score desc / term asc. ``prefix_length`` (default 1, the
  OpenSearch default) pins the first chars like the real suggester.

- :func:`completion_suggest` — prefix completions ranked by document
  frequency (the df IS the suggestion weight), capped at ``size``.

Both read the term dictionary on the driver, through the engine's
segment reader, with no Spark job: the term suggester ranks the
fuzzy-query candidates (``BM25Engine._fuzzy_candidates``: one read of
each token's pinned-prefix range, one vectorized Levenshtein), and the
completion suggester is ``BM25Engine.expand_prefix``. Each returns its
few rows as a DataFrame built from them (``createDataFrame``), whose
collect is one Spark job.

Reference parity: the serving-side OpenSearch suggesters
(`search` body `suggest`) over the indexes built by
`opensearch/index_docs.py`; semantics follow the public Lucene
DirectSpellChecker / ES term & completion suggester docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

SUGGEST_SCHEMA = T.StructType([
    T.StructField("token", T.StringType(), False),
    T.StructField("suggestion", T.StringType(), False),
    T.StructField("dist", T.IntegerType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("df", T.LongType(), False),
])

COMPLETION_SCHEMA = T.StructType([
    T.StructField("suggestion", T.StringType(), False),
    T.StructField("df", T.LongType(), False),
])


def term_suggest(
    engine,
    text: str,
    size: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_word_length: int = 4,
    suggest_mode: str = "missing",
    sort: str = "score",
) -> DataFrame:
    """Spelling suggestions for every eligible token of ``text`` from
    the index dictionary of ``engine`` (a ``BM25Engine``). Returns
    (token, suggestion, dist, score, df) rows, at most ``size`` per
    token, ranked per ``sort``. The input token itself is never a
    suggestion (dist >= 1), matching the real suggester."""
    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS

    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    if sort not in ("score", "frequency"):
        raise ValueError(f"unknown sort {sort!r}")

    engine._maybe_refresh()
    tok = TOKENIZERS[engine.meta["tokenizer"]]
    tokens = sorted({t for t in tok(text or "") if len(t) >= min_word_length})
    df_map = engine.resolve_df(tokens) if suggest_mode != "always" else {}
    if suggest_mode == "missing":
        tokens = [t for t in tokens if df_map[t] == 0]
    rows = []
    for token in tokens:
        floor = df_map[token] if suggest_mode == "popular" else 0
        got = engine._fuzzy_candidates(token, max_edits, prefix_length)
        cand = [(t, dist, 1.0 - dist / min(len(t), len(token)), df)
                for t, df, dist in zip(*(got[c].to_pylist()
                                         for c in ("term", "df", "dist")))
                if dist >= 1 and df > floor]
        cand.sort(key=(lambda r: (-r[2], -r[3], r[0])) if sort == "score"
                  else (lambda r: (-r[3], -r[2], r[0])))
        rows += [(token, *r) for r in cand[:size]]
    return engine.spark.createDataFrame(rows, SUGGEST_SCHEMA)


def completion_suggest(engine, prefix: str, size: int = 10) -> DataFrame:
    """Prefix completions from the index dictionary, weight = global df
    (desc, term asc ties), capped at ``size``: the engine's prefix
    expansion, a point read of the term-sorted segment files."""
    engine._maybe_refresh()
    return engine.spark.createDataFrame(
        engine.expand_prefix(prefix, size), COMPLETION_SCHEMA)
