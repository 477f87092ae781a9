"""The engine's driver-side segment reader against a full read of the
same files filtered in memory, run without Spark.

Each example writes a few segment files with small row groups: term-
sorted and unsorted, some without ``pos_bytes``, some written without
statistics (read whole). Terms are drawn from an alphabet that holds
U+10FFFF and the code points on both sides of the surrogate block, so
the ``[stem, successor)`` range is exercised where it is hard to get
right. Keys are point sets and prefix stems, each part drawn from the
files' terms and part arbitrary, so absent terms and stems come up too.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

from data_prep_opensearch_spark.operators.bm25 import (
    SegmentsRetired,
    _SegmentReader,
    term_point_filter,
    term_prefix_filter,
)

ALPHABET = ["a", "b", "\ud7ff", "\ue000", "\U0010ffff"]
COLUMNS = ["term", "shard", "gen", "df", "doc_bytes", "pos_bytes"]
TYPES = {"term": pa.string(), "shard": pa.int32(), "gen": pa.int32(),
         "df": pa.int64(), "doc_bytes": pa.binary(), "pos_bytes": pa.binary()}

words = st.text(alphabet=ALPHABET, min_size=1, max_size=4)
rows = st.lists(st.tuples(words, st.integers(0, 3), st.integers(0, 2),
                          st.integers(1, 9), st.binary(max_size=3)),
                min_size=1, max_size=30)
segment_file = st.fixed_dictionaries({
    "rows": rows,
    "sorted": st.booleans(),
    "pos": st.booleans(),
    "stats": st.booleans(),
    "group_rows": st.integers(1, 4),
})


def _write(d: str, files: list[dict]) -> list[str]:
    paths = []
    for i, f in enumerate(files):
        rs = sorted(f["rows"]) if f["sorted"] else f["rows"]
        cols = COLUMNS if f["pos"] else COLUMNS[:-1]
        data = {c: [r[j] for r in rs] for j, c in enumerate(cols[:5])}
        if f["pos"]:
            data["pos_bytes"] = [None if r[3] % 3 == 0 else r[4] + b"p" for r in rs]
        path = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(pa.table({c: pa.array(data[c], TYPES[c]) for c in cols}),
                       path, row_group_size=f["group_rows"],
                       write_statistics=f["stats"])
        paths.append(path)
    return paths


def _full_read(paths: list[str], wanted, columns: list[str]) -> list[tuple]:
    """Every file read whole, its rows filtered by ``wanted(term)``."""
    out = []
    for p in paths:
        for r in pq.read_table(p).to_pylist():
            if wanted(r["term"]):
                out.append(tuple(r.get(c) for c in columns))
    return sorted(out, key=repr)


def _check(reader: _SegmentReader, paths, keys, wanted) -> None:
    # a column is readable when some file holds it
    held = {c for p in paths for c in pq.read_schema(p).names}
    for columns in (COLUMNS, ["term", "pos_bytes", "shard"]):
        columns = [c for c in columns if c in held]
        got = [tuple(r.values()) for r in reader.read(keys, columns).to_pylist()]
        assert sorted(got, key=repr) == _full_read(paths, wanted, columns)
    want: dict[str, tuple[int, set[int]]] = {}
    for t, shard, df in _full_read(paths, wanted, ["term", "shard", "df"]):
        d, shards = want.get(t, (0, set()))
        want[t] = (d + df, shards | {shard})
    got = {r["term"]: (r["df"], r["shards"])
           for r in reader.dfs(keys).to_pylist()}
    assert got == {t: (d, sorted(s)) for t, (d, s) in want.items()}


@settings(max_examples=150, deadline=None)
@given(files=st.lists(segment_file, min_size=1, max_size=4),
       picks=st.lists(st.integers(0, 200), max_size=4),
       extra=st.lists(words, max_size=3),
       stem=words, stem_pick=st.integers(0, 200), cut=st.integers(0, 3))
def test_reader_equals_filtered_full_read(files, picks, extra, stem,
                                          stem_pick, cut):
    vocab = sorted({r[0] for f in files for r in f["rows"]})
    points = {vocab[i % len(vocab)] for i in picks} | set(extra)
    held = vocab[stem_pick % len(vocab)]
    stems = {stem, held[:max(1, len(held) - cut)], held + "\U0010ffff",
             "\ud7ff", "\U0010ffff"}
    with tempfile.TemporaryDirectory() as d:
        paths = _write(d, files)
        reader = _SegmentReader(paths)
        _check(reader, paths, term_point_filter(points), points.__contains__)
        _check(reader, paths, term_point_filter([]), lambda t: False)
        for s in stems:
            _check(reader, paths, term_prefix_filter(s),
                   lambda t, s=s: t.startswith(s))


def test_retired_file_raises(tmp_path):
    files = [{"rows": [(t, 0, 0, 1, b"")], "sorted": True, "pos": p,
              "stats": True, "group_rows": 1}
             for t, p in (("a", True), ("b", False))]
    paths = _write(str(tmp_path), files)
    reader = _SegmentReader(paths)
    assert reader.dfs(term_point_filter(["a", "b"]))["term"].to_pylist() == ["a", "b"]
    os.remove(paths[1])
    # a read that needs no row group of the retired file still answers
    assert reader.read(term_point_filter(["a"]), ["term"]).num_rows == 1
    for keys in (term_point_filter(["b"]), term_prefix_filter("")):
        with pytest.raises(SegmentsRetired):
            reader.read(keys, ["term", "df"])
