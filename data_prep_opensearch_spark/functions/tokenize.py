"""Tokenizers shared by the Spark engine, the single-process oracle, and
the DuckDB SQL oracle.

Two modes:

- ``simple``: lowercase, extract ``[a-z0-9_]+`` runs. Exactly expressible
  in Spark SQL (``regexp_extract_all``) and DuckDB (``regexp_extract_all``)
  — this is the mode used for SQL-oracle parity.
- ``code``: ``simple`` plus identifier splitting — snake_case and
  camelCase identifiers additionally emit their sub-tokens, so a query
  for ``parse`` matches ``parseJson``/``parse_json``. Python-side only
  (Arrow-vectorized); the oracle shares the same function.

The reference's analogue is its text-normalization-before-indexing stage
(clean_ko_content_chunks, common/utils.py:528-631) feeding OpenSearch's
own analyzer; we implement the analyzer ourselves.
"""

from __future__ import annotations

import re
from collections import Counter

SIMPLE_TOKEN_RE = re.compile(r"[a-z0-9_]+")
# on the raw (pre-lowercase) text, for identifier splitting
IDENT_RE = re.compile(r"[A-Za-z0-9_]+")
CAMEL_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z0-9])|[A-Z]?[a-z0-9]+|[A-Z]+|[0-9]+")

# SQL fragments that reproduce ``simple`` mode exactly (used by
# __spark_entry__.oracle_sql and the Spark SQL fast path).
SIMPLE_TOKEN_SQL_PATTERN = "[a-z0-9_]+"


def tokenize_simple(text: str) -> list[str]:
    return SIMPLE_TOKEN_RE.findall(text.lower())


def _split_ident(ident: str) -> list[str]:
    parts: list[str] = []
    for piece in ident.split("_"):
        if not piece:
            continue
        parts.extend(m.group(0) for m in CAMEL_RE.finditer(piece))
    return parts


def tokenize_code(text: str) -> list[str]:
    """Whole lowered identifiers, plus sub-tokens for compound identifiers."""
    out: list[str] = []
    for m in IDENT_RE.finditer(text):
        ident = m.group(0)
        out.append(ident.lower())
        subs = _split_ident(ident)
        if len(subs) > 1:
            out.extend(s.lower() for s in subs)
    return out


TOKENIZERS = {"simple": tokenize_simple, "code": tokenize_code}


def tokenize_idents(text: str) -> list[str]:
    """Whole lowered identifiers only — no sub-token injection. This is
    the QUERY-side analyzer for phrase bodies under the 'code' tokenizer:
    a phrase is a consecutive-identifier pattern, and injecting sub-tokens
    into the phrase term list would demand impossible adjacencies."""
    return [m.group(0).lower() for m in IDENT_RE.finditer(text)]


# phrase bodies analyze to one token per source-text position
PHRASE_TOKENIZERS = {"simple": tokenize_simple, "code": tokenize_idents}


def tokenize_with_positions(text: str, mode: str = "simple") -> tuple[list[str], list[int]]:
    """(tokens, within-doc positions) matching the INDEX's position
    semantics exactly (index_build._flatten_tokens): 'simple' = token
    ordinal; 'code' = identifier ordinal, sub-tokens sharing their parent
    identifier's position (Lucene WordDelimiterFilter increment-0).
    Single-process oracle twin of the positional index stream."""
    if mode == "simple":
        toks = tokenize_simple(text)
        return toks, list(range(len(toks)))
    if mode == "code":
        toks: list[str] = []
        pos: list[int] = []
        for i, m in enumerate(IDENT_RE.finditer(text)):
            ident = m.group(0)
            toks.append(ident.lower())
            pos.append(i)
            subs = _split_ident(ident)
            if len(subs) > 1:
                for s in subs:
                    toks.append(s.lower())
                    pos.append(i)
        return toks, pos
    raise KeyError(mode)


def term_frequencies(text: str, mode: str = "simple") -> Counter:
    return Counter(TOKENIZERS[mode](text))
