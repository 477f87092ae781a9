"""The full content-cleaning pipeline (SURVEY.md §2.8 F4) plus the
intra-document dedup operators (D4/D5) — the #1 prep family for
PDF-extracted / print-media text in a training corpus.

Reference semantics, step for step: ``clean_ko_content_chunks``
(common/utils.py:528-631) — NFKC + exotic-whitespace/zero-width/soft-
hyphen removal, page-header strip, dot-leader collapse, bullet/dash
normalization, hyphenated-compound repair, split-capital repair, quote/
ellipsis transliteration, control-char strip, exact line dedup (D4),
cross-line de-hyphenation, intra-sentence wrap joining, camelCase-wrap
repair, punctuation spacing, numbering normalization, whitespace
collapse. One corpus-specific rule (a hardcoded header literal,
common/utils.py:585) is intentionally dropped — it is data, not an
operator. D5 is the chunk-prefix dedup of stages/enricher/vision.py:370-382.

Execution style: regex pipelines over Arrow-batched pandas Series
(pandas .str C paths where the pattern allows, python re where
lookbehind/backrefs require it). Per-batch, never per-row-Python-UDF —
each call processes a whole Arrow batch.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# step 2: exotic spaces / zero-widths / soft hyphen
_SPACES = re.compile("[\u00A0\u2000-\u200A\u202F\u205F]")
_ZERO_WIDTH = re.compile("[\u200B\u200C\u200D\uFEFF]")
# step 3: page headers like "7 / 31" at line starts
_PAGE_HDR = re.compile(r"(?m)^\s*\d+\s*/\s*\d+\s+")
# step 4: table-of-contents dot leaders
_DOT_LEADERS = re.compile(r"\.{2,}")
# step 5: bullets + dash spacing
_BULLET = re.compile(r"(?m)^\s*-\s+")
_SPACED_DASH = re.compile(r"\s*[-–—]\s*")
_COMPOUND = re.compile(r"(?<=\w)\s*-\s*(?=\w)")
_SPLIT_CAP = re.compile(r"\b([A-Z])\s([a-z]{2,})\b")
# step 6: curly quotes / ellipsis / trademark clutter
_TRANSLIT = {
    ord("“"): '"', ord("”"): '"', ord("„"): '"', ord("‟"): '"',
    ord("‘"): "'", ord("’"): "'", ord("‚"): "'", ord("‛"): "'",
    ord("…"): "...", ord("©"): " ", ord("®"): " ", ord("™"): " ",
}
# step 7: control chars except \n and \t
_CTRL = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
# post-dedup repairs
_HYPHEN_NL = re.compile(r"(?<=\w)-\n(?=\w)")
_SHY_NL = re.compile("\u00AD\n?")
_WRAP_NL = re.compile(r"(?<=\w)\n(?=\w)")
_CAMEL_WRAP = re.compile(r"([a-z])([A-Z])")
_COLON_TIGHT = re.compile(r":(?!\s)")
_NUM_SUFFIX_YEAR = re.compile(r"(\d[\d.,]*\s*[kKmMbB])(?=\d{4}\b)")
_NUMERO_DUP = re.compile(r"\b(n°\s*\d+)\s+\1\b", re.IGNORECASE)
_NUMERO_NO = re.compile(r"\b[Nn][oO][\.\s]?(?=\d)")
_NUMERO_SIGN = re.compile(r"\b[Nn][º°]\s*(?=\d)")
_SPACE_BEFORE_PUNCT = re.compile(r"\s+([,.;:!?])")
# step 9: final whitespace normalization
_TRAIL_WS_NL = re.compile(r"[ \t]+\n")
_BLANK_RUNS = re.compile(r"\n{3,}")
_SPACE_RUNS = re.compile(r"[ \t]{2,}")
_WS_RUNS = re.compile(r"\s{2,}")


def dedup_lines_py(s: str) -> str:
    """D4: drop repeated identical (stripped) lines, keep-first; blank
    lines are dropped (reference common/utils.py:587-593 exactly)."""
    lines: list[str] = []
    seen: set[str] = set()
    for line in s.splitlines():
        key = line.strip()
        if key and key not in seen:
            seen.add(key)
            lines.append(line)
    return "\n".join(lines)


def clean_content_py(s: str | None) -> str | None:
    """F4: the 30-step cleaner, reference order preserved."""
    if s is None:
        return None
    # 1) newline canon + NFKC
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = unicodedata.normalize("NFKC", s)
    # 2) whitespace exotica, zero-widths, soft hyphens
    s = _SPACES.sub(" ", s)
    s = _ZERO_WIDTH.sub("", s)
    s = s.replace("\u00AD", "").replace("&shy;", "")
    # 3) page headers/footers "7 / 31"
    s = _PAGE_HDR.sub("", s)
    # 4) dot leaders
    s = _DOT_LEADERS.sub(" ", s)
    # 5) bullets, dash spacing, hyphen canon, compound + split-cap repair
    s = _BULLET.sub("• ", s)
    s = _SPACED_DASH.sub(" - ", s)
    s = s.replace("\u2010", "-").replace("\u2011", "-").replace("\u2212", "-")
    s = _COMPOUND.sub("-", s)
    s = _SPLIT_CAP.sub(r"\1\2", s)
    # 6) transliteration
    s = s.translate(_TRANSLIT)
    # 7) control chars
    s = _CTRL.sub("", s)
    # 8) exact line dedup (D4)
    s = dedup_lines_py(s)
    # de-hyphenate across lines; stray soft-hyphen+newline
    s = _HYPHEN_NL.sub("", s)
    s = _SHY_NL.sub("", s)
    # join intra-sentence hard wraps; camelCase wrap repair
    s = _WRAP_NL.sub(" ", s)
    s = _CAMEL_WRAP.sub(r"\1 \2", s)
    # punctuation / numbering normalization
    s = _COLON_TIGHT.sub(": ", s)
    s = _NUM_SUFFIX_YEAR.sub(r"\1 ", s)
    s = _NUMERO_DUP.sub(r"\1", s)
    s = _NUMERO_NO.sub("n° ", s)
    s = _NUMERO_SIGN.sub("n° ", s)
    s = _SPACE_BEFORE_PUNCT.sub(r"\1", s)
    # 9) whitespace finale
    s = _TRAIL_WS_NL.sub("\n", s)
    s = _BLANK_RUNS.sub("\n\n", s)
    s = _SPACE_RUNS.sub(" ", s)
    s = _WS_RUNS.sub(" ", s)
    return s.strip()


@pandas_udf(T.StringType())
def clean_content_udf(s: pd.Series) -> pd.Series:
    return s.map(clean_content_py, na_action="ignore")


def dedup_chunks_by_prefix_py(chunks, prefix_len: int = 500) -> str:
    """D5: drop chunks whose first ``prefix_len`` chars repeat an earlier
    chunk's, keep-first, join with blank lines (reference
    stages/enricher/vision.py:370-382)."""
    cleaned: list[str] = []
    seen: set[str] = set()
    if chunks is None:
        chunks = []
    for chunk in chunks:
        text = (chunk or "").strip()
        if not text:
            continue
        key = text[:prefix_len]
        if key in seen:
            continue
        seen.add(key)
        cleaned.append(text)
    return "\n\n".join(cleaned).strip()


def dedup_chunks_udf(prefix_len: int = 500):
    """Factory: array<string> -> deduped joined string at a given prefix."""
    @pandas_udf(T.StringType())
    def _udf(chunks: pd.Series) -> pd.Series:
        return chunks.map(lambda c: dedup_chunks_by_prefix_py(c, prefix_len))
    return _udf
