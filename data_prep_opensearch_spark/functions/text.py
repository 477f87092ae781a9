"""Text normalization / cleaning functions — Spark-first re-expression of
the reference's prep-stage scalar functions (SURVEY.md §2.8).

JVM-side column expressions wherever Spark builtins express the
semantics; Arrow-vectorized pandas UDFs only where they can't
(unicode NFC/NFKC, dateutil-style parsing).
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

from pyspark.sql import Column, functions as F, types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# clean_str — reference semantics: common/utils.py:276-293 (NFC normalize,
# strip zero-width & control chars, NBSP -> space, collapse whitespace)
# ---------------------------------------------------------------------------

_ZERO_WIDTH = re.compile(r"[​‌‍﻿]")
_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
_WS = re.compile(r"\s+")


def clean_str_py(s: str | None) -> str | None:
    if s is None:
        return None
    s = unicodedata.normalize("NFC", s)
    s = _ZERO_WIDTH.sub("", s)
    s = _CTRL.sub("", s)
    s = s.replace(" ", " ")
    return _WS.sub(" ", s).strip()


@pandas_udf(T.StringType())
def clean_str_udf(s: pd.Series) -> pd.Series:
    return s.map(clean_str_py, na_action="ignore")


# ---------------------------------------------------------------------------
# canonical_url — reference semantics: common/utils.py:59-84 (default scheme
# https, lowercase scheme+host, strip fragment)
# ---------------------------------------------------------------------------

def canonical_url_py(u: str | None) -> str | None:
    from urllib.parse import urlsplit, urlunsplit

    if u is None or not u.strip():
        return None
    u = u.strip()
    if "://" not in u:
        u = "https://" + u
    parts = urlsplit(u)
    return urlunsplit((
        parts.scheme.lower(), parts.netloc.lower(), parts.path, parts.query, ""
    ))


@pandas_udf(T.StringType())
def canonical_url_udf(s: pd.Series) -> pd.Series:
    return s.map(canonical_url_py, na_action="ignore")


# ---------------------------------------------------------------------------
# classify_url — the P9 URL-classification decision tree, reference
# stages/enricher/utils.py:920-990 (classify_url_for_enrichment) with its
# pure helpers _normalise_netloc / _host_is_obviously_internal /
# _path_has_dangerous_extension (utils.py:727-733, 747-767, 801-808).
# The network-dependent tail (redirect resolution + reputation lookups,
# validate_url_safety) is out of scope by SURVEY.md §7.4 — this is the
# complete OFFLINE decision tree, which is the part a training-data
# pipeline runs at scale.
# ---------------------------------------------------------------------------

_DANGEROUS_EXTENSIONS = {
    ".exe", ".msi", ".bat", ".cmd", ".ps1", ".vbs", ".dll",
    ".pkg", ".dmg", ".app",
    ".deb", ".rpm", ".appimage", ".sh", ".run",
    ".jar", ".py", ".pyz", ".pyc",
    ".scr", ".com", ".pif", ".msix", ".msixbundle", ".reg",
    ".iso", ".img", ".bin", ".apk", ".ipa",
    ".zip", ".rar", ".7z", ".tar", ".gz", ".bz2", ".xz", ".tgz", ".tbz2", ".txz",
}
_LEGACY_WEBPAGE_EXTENSIONS = {".php", ".cgi", ".jsp", ".asp", ".aspx", ".cfm"}


def _normalise_netloc(netloc: str) -> str:
    n = (netloc or "").strip().lower()
    if n.startswith("www."):
        n = n[4:]
    return n


def _host_is_obviously_internal(host: str) -> bool:
    import ipaddress

    h = _normalise_netloc(host)
    if not h:
        return True
    if h in {"localhost", "localhost.localdomain"}:
        return True
    if h.endswith((".local", ".localdomain", ".internal", ".home", ".lan")):
        return True
    try:
        ip = ipaddress.ip_address(h)
    except ValueError:
        return False
    return (
        ip.is_private or ip.is_loopback or ip.is_link_local
        or ip.is_multicast or ip.is_reserved or ip.is_unspecified
    )


def _path_has_dangerous_extension(path: str) -> bool:
    p = (path or "").strip().lower()
    if not p:
        return False
    if any(p.endswith(ext) for ext in _LEGACY_WEBPAGE_EXTENSIONS):
        return False
    return any(p.endswith(ext) for ext in _DANGEROUS_EXTENSIONS)


_GH_PROJECT_RE = re.compile(r"^/[^/]+/[^/]+/projects(?:/|$)")


def classify_url_py(url) -> tuple[bool, str]:
    """(ok, reason) — reason is 'ok' or the first failing rule's name."""
    from urllib.parse import urlparse

    if isinstance(url, (bytes, bytearray)):
        url = url.decode("utf-8", "ignore")
    if not isinstance(url, str):
        return False, "not_a_string"
    u = url.strip()
    if not u:
        return False, "empty"
    try:
        p = urlparse(u)
    except ValueError:
        return False, "parse_error"
    if (p.scheme or "").lower() != "https":
        return False, "https_required"
    if p.username or p.password:
        return False, "embedded_credentials"
    netloc = _normalise_netloc(p.netloc)
    if not netloc:
        return False, "missing_host"
    if _host_is_obviously_internal(p.hostname or netloc):
        return False, "internal_host"
    path = p.path or ""
    path_l = path.lower()
    if netloc == "github.com":
        if path_l.startswith("/orgs/") and "/projects/" in path_l:
            return False, "github_project_board"
        if _GH_PROJECT_RE.match(path_l):
            return False, "github_project_board"
        if path_l in {"/notifications", "/pulls", "/issues", "/settings"}:
            return False, "github_dashboard_page"
    if "." not in netloc:
        return False, "host_missing_tld"
    if len(netloc.rsplit(".", 1)[-1]) < 2:
        return False, "host_bad_tld"
    if _path_has_dangerous_extension(path):
        return False, "dangerous_payload_extension"
    if (path == "" or path == "/") and not (p.query and p.query.strip()):
        return False, "homepage_or_bare_domain"
    return True, "ok"


@pandas_udf(T.StringType())
def classify_url_reason_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda u: classify_url_py(u)[1])


# ---------------------------------------------------------------------------
# normalize_date_to_yyyy_mm_dd — reference: common/utils.py:143-209
# (ordinal-suffix strip, ISO first, then day-first fallback)
# ---------------------------------------------------------------------------

_ORDINAL = re.compile(r"(\d{1,2})(st|nd|rd|th)\b", re.IGNORECASE)


def normalize_date_py(s: str | None) -> str | None:
    """Full reference breadth (common/utils.py:143-209): ordinal-suffix
    strip, comma tolerance, ISO/year-first preferred (so '2026-02-10'
    never flips under day-first), dateutil day-first fuzzy fallback for
    everything else, tz-aware values converted to UTC before taking the
    calendar date. Returns None where the reference raises (UDF-friendly
    null propagation; the dropped-record sink records the null)."""
    if s is None or not str(s).strip():
        return None
    from datetime import datetime, timezone

    from dateutil import parser as du_parser

    s = _ORDINAL.sub(r"\1", str(s).strip())
    s = re.sub(r"\s*,\s*", " ", s)
    s_iso = s.replace("Z", "+00:00").replace("z", "+00:00")
    iso_like = bool(re.match(r"^\d{4}[-/]\d{1,2}[-/]\d{1,2}(?:$|[Tt\s])", s))
    dt = None
    if iso_like:
        try:
            dt = datetime.fromisoformat(s_iso)
        except ValueError:
            try:
                dt = du_parser.parse(s, dayfirst=False, yearfirst=True, fuzzy=True)
            except (du_parser.ParserError, ValueError, OverflowError):
                return None
    else:
        try:
            dt = du_parser.parse(s, dayfirst=True, yearfirst=False, fuzzy=True)
        except (du_parser.ParserError, ValueError, OverflowError):
            try:
                dt = datetime.fromisoformat(s_iso)
            except ValueError:
                return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc)
    return dt.date().isoformat()


@pandas_udf(T.StringType())
def normalize_date_udf(s: pd.Series) -> pd.Series:
    return s.map(normalize_date_py, na_action="ignore")


# ---------------------------------------------------------------------------
# JVM-side column helpers (pure Catalyst expressions — codegen'd)
# ---------------------------------------------------------------------------

def norm_ws(col: Column) -> Column:
    """Collapse whitespace + trim, JVM-side (the SQL-parity normalizer)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def tokens_col(col: Column) -> Column:
    """JVM-side 'simple' tokenizer: lowercase [a-z0-9_]+ runs. Matches
    functions.tokenize.tokenize_simple exactly (same character class)."""
    return F.regexp_extract_all(F.lower(col), F.lit("([a-z0-9_]+)"), 1)


# office-zip content markers the reference checks after a PK header
# (stages/enricher/utils.py:200-209)
_ZIP_MARKERS = (
    "[Content_Types].xml", "ppt/", "word/", "xl/", "docProps/", "_rels/",
)
# control chars with ord<32 minus \t\n\r — the reference's nonprintable
# class for TEXT (unicode letters do NOT count; utils.py:213)
_NONPRINTABLE_TEXT_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"


def looks_like_binary_text(col: Column) -> Column:
    """TEXT-variant binary detector (stages/enricher/utils.py:194-216):
    a string column that is really an un-decoded binary payload. Rules,
    over the first 4096 chars: PK zip header + an office marker; any NUL
    or U+FFFD replacement char; or >5% control chars (ord<32 excluding
    tab/newline/CR). Pure JVM expressions (substring/locate/regexp) —
    a codegen'd scan predicate at any scale. The BYTES variant is
    operators.multimodal.detect_binary_payloads."""
    sample = F.substring(col, 1, 4096)
    marker_hit = None
    # ALL markers count. (The reference's ``markers[:-1]`` slice exists
    # to skip the PK header it appends as the LAST tuple element of ITS
    # list — utils.py:200-209; our tuple holds only the six content
    # markers, so a copied slice would silently drop ``_rels/``.)
    for m in _ZIP_MARKERS:
        hit = F.locate(m, sample) > 0
        marker_hit = hit if marker_hit is None else (marker_hit | hit)
    pk_office = sample.startswith("PK\x03\x04") & marker_hit
    has_nul = (F.locate("\x00", sample) > 0) | (F.locate("�", sample) > 0)
    n_ctrl = F.length(
        F.regexp_replace(sample, f"[^{_NONPRINTABLE_TEXT_RE[1:-1]}]", "")
    )
    ratio_hit = n_ctrl / F.greatest(F.length(sample), F.lit(1)) > 0.05
    return col.isNotNull() & (F.length(sample) > 0) & (
        pk_office | has_nul | ratio_hit
    )


def is_placeholder_content(col: Column) -> Column:
    """P11 placeholder-content predicate (stages/enricher/utils.py:
    1142-1146): null, binary-looking text, empty after trim, or the
    literal 'no content present' sentinel."""
    return (
        col.isNull()
        | looks_like_binary_text(col)
        | F.lower(F.trim(col)).isin("", "no content present")
    )
