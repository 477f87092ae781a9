"""The engine's driver-side segment reads prune parquet row groups on
both sides, run without Spark.

A term-sorted file with many small row groups is written the way
``sort_segments`` lays segments out (each term on several rows). For
point reads and prefix ranges, the row groups the reader chooses to
read must be exactly those whose [min, max] term range can hold a
wanted term. A one-sided ``term >= stem`` range keeps every row group
past the stem, so that regression fails here.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_prep_opensearch_spark.operators.bm25 import (
    TermKeys,
    _SegmentFile,
    _SegmentReader,
    _successor,
    term_point_filter,
    term_prefix_filter,
)

MAX = "\U0010ffff"
# "t15" and "t150": terms that are also prefix stems of other terms;
# the U+10FFFF terms sit mid-file, with row groups on both sides
TERMS = sorted(
    [f"t{i:03d}" for i in range(120)] + ["t15", "t1", "u", "u" + MAX,
                                         "u" + MAX + "x", "u" + MAX + MAX]
    + [f"v{i:03d}" for i in range(60)]
)
SHARDS = 2
ROWS_PER_GROUP = 6


@pytest.fixture(scope="module")
def segment_file(tmp_path_factory):
    rows = [(t, s) for t in TERMS for s in range(SHARDS)]
    path = str(tmp_path_factory.mktemp("seg") / "part-0.parquet")
    pq.write_table(pa.table({
        "term": [t for t, _ in rows],
        "shard": [s for _, s in rows],
        "df": [len(t) + s for t, s in rows],
    }), path, row_group_size=ROWS_PER_GROUP)
    seg = _SegmentFile.open(path)
    groups = [rows[i:i + ROWS_PER_GROUP]
              for i in range(0, len(rows), ROWS_PER_GROUP)]
    assert seg.meta.num_row_groups == len(groups) > 40
    return path, seg, [(g[0][0], g[-1][0]) for g in groups]


def _overlapping(ranges, lo: str, hi: str | None) -> list[int]:
    """Row groups whose [min, max] meets [lo, hi) (hi None: unbounded)."""
    return [i for i, (mn, mx) in enumerate(ranges)
            if mx >= lo and (hi is None or mn < hi)]


def _terms_read(path, keys) -> set[str]:
    return set(_SegmentReader([path]).dfs(keys)["term"].to_pylist())


@pytest.mark.parametrize("terms", [
    ["t007"], ["t007", "t099"], ["t15", "v059"], ["u" + MAX], ["t000", "v000"],
])
def test_point_read_prunes_to_holding_groups(segment_file, terms):
    path, seg, ranges = segment_file
    want = sorted({i for t in terms for i in _overlapping(ranges, t, t + "\0")})
    assert seg.groups(term_point_filter(terms)) == want
    assert len(want) <= 2 * len(terms) < len(ranges)
    assert _terms_read(path, term_point_filter(terms)) == set(terms)


@pytest.mark.parametrize("stem", ["t15", "t150", "t0", "u" + MAX, "u", "v02"])
def test_prefix_range_prunes_both_sides(segment_file, stem):
    path, seg, ranges = segment_file
    want = _overlapping(ranges, stem, _successor(stem))
    assert seg.groups(term_prefix_filter(stem)) == want
    # a one-sided bound would keep every group past the stem
    assert len(want) < len(_overlapping(ranges, stem, None))
    got = _terms_read(path, term_prefix_filter(stem))
    assert got == {t for t in TERMS if t.startswith(stem)}
    assert stem not in TERMS or stem in got  # a term is its own prefix


def test_empty_results_read_no_row_group(segment_file):
    path, seg, ranges = segment_file
    # strings inside the gap between two adjacent row groups
    (_, mx), (mn, _) = ranges[10], ranges[11]
    assert mx < mx + "\0" < mn
    gap = mx + "\0"
    assert seg.groups(term_point_filter([gap])) == []
    assert seg.groups(term_prefix_filter(gap)) == []
    assert _terms_read(path, term_point_filter(["absent", gap])) == set()
    assert _terms_read(path, term_prefix_filter("zz")) == set()


def test_one_sided_bound_would_fail(segment_file):
    """The range this guard protects against keeps far more groups."""
    _, seg, _ = segment_file
    one_sided = TermKeys(stem="t15", upper=None)
    assert len(seg.groups(one_sided)) > len(seg.groups(term_prefix_filter("t15")))


def test_successor():
    assert _successor("ab") == "ac"
    assert _successor("a" + MAX) == "b"
    assert _successor("a" + MAX + MAX) == "b"
    assert _successor(MAX) is None
    assert _successor("") is None
    assert _successor("\ud7ff") == "\ue000"  # surrogates have no UTF-8 form
