"""The shared write path: build, add and merge commit through one
generation commit and encode through one segment encoder.

A positional index with three generations (a build and two adds) and
deleted docs is merged with ``apply_deletes=True``; every merged row
must be the reference codec's encoding of its postings. Every writer
lays its segment files out by term range, term-sorted within each file.
The Spark job counts of one small add, one delete and one merge are
pinned, as are delete_documents' counts, its refusals and its lock, and
the doclens dirs a publish shadows are retired in it.
"""

from __future__ import annotations

import itertools
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.bm25 import _SegmentFile, term_point_filter
from data_prep_opensearch_spark.operators.incremental import (
    add_documents,
    delete_documents,
)
from data_prep_opensearch_spark.operators.index_build import build_index
from data_prep_opensearch_spark.operators.locks import IndexLockHeld, index_lock
from data_prep_opensearch_spark.operators.postings import (
    SHARD_WIDTH,
    decode_positions,
    decode_posting_list,
    encode_positions,
    encode_posting_list,
    merge_posting_runs_with_pos,
    vbyte_decode,
)
from data_prep_opensearch_spark.operators.segment_merge import merge_segments
from data_prep_opensearch_spark.sources.corpus import corpus_df

_groups = itertools.count()


def _jobs(spark, fn):
    """(Spark jobs ``fn`` launches, counted through its job group, and
    its result). Jobs from threads ``fn`` starts inherit the group."""
    sc = spark.sparkContext
    group = f"write-path-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _postings(rows):
    """{(term, shard): (docs, tfs, pos)} of segment rows, generations
    merged last-wins by the reference run merge."""
    runs = {}
    for r in sorted(rows, key=lambda r: r["gen"]):
        d, t = decode_posting_list(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]),
                                   base=r["shard"] * SHARD_WIDTH)
        p = decode_positions(bytes(r["pos_bytes"]), t)
        runs.setdefault((r["term"], r["shard"]), []).append((d, t, p))
    return {k: merge_posting_runs_with_pos(v) for k, v in runs.items()}


@pytest.fixture(scope="module")
def three_gens(spark, tmp_root):
    idx = os.path.join(tmp_root, "write_path_three_gens")
    full = corpus_df(spark, 270)
    key = F.xxhash64("repo", "path", "commit") % 3
    build_index(spark, full.filter(key == 0), idx, n_shards=4, n_groups=2,
                positions=True)
    for g in (1, 2):
        assert add_documents(spark, idx, full.filter(key == g))["generation"] == g
    stats = mf.read_doc_stats(spark, idx)
    victims = stats.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    dead = {int(r["doc_id"]) for r in victims.collect()}
    assert delete_documents(spark, idx, victims) == len(dead)
    return idx, dead


def test_merged_rows_equal_reference_encoding(spark, three_gens):
    idx, dead = three_gens
    before = _postings(mf.read_segments(spark, idx).collect())
    assert {g for r in mf.read_segments(spark, idx).select("gen").collect()
            for g in r} == {0, 1, 2}
    merge_segments(spark, idx, apply_deletes=True)
    dls = {int(r["shard"]): vbyte_decode(bytes(r["dl_bytes"])).astype(np.int64)
           for r in mf.read_doclens(spark, idx).collect()}
    rows = mf.read_segments(spark, idx).collect()
    assert {r["gen"] for r in rows} == {3}
    want = {}
    for k, (d, t, p) in before.items():
        alive = ~np.isin(d, list(dead))
        if alive.any():
            starts = np.cumsum(t) - t
            tok = np.concatenate([np.arange(s, s + n) for s, n in
                                  zip(starts[alive], t[alive])])
            want[k] = (d[alive], t[alive], p[tok])
    assert len(rows) == len(want)
    for r in rows:
        shard = r["shard"]
        base = shard * SHARD_WIDTH
        d, t = decode_posting_list(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), base=base)
        p = decode_positions(bytes(r["pos_bytes"]), t)
        wd, wt, wp = want[(r["term"], shard)]
        assert np.array_equal(d, wd) and np.array_equal(t, wt) and np.array_equal(p, wp)
        doc_b, tf_b, blk = encode_posting_list(d, t, dls[shard][d - base], base=base)
        assert (r["df"], r["cf"]) == (len(d), int(t.sum()))
        assert (bytes(r["doc_bytes"]), bytes(r["tf_bytes"])) == (doc_b, tf_b)
        assert bytes(r["pos_bytes"]) == encode_positions(p, t)
        for name in ("first", "last", "max_tf", "min_dl", "doc_off", "tf_off"):
            assert list(r[f"block_{name}"]) == getattr(blk, name).tolist(), name


def _assert_term_range_layout(idx):
    """Each live segment dir's files cover disjoint term ranges, sharing
    at most a boundary term, and hold their rows in (term, shard) order;
    a one-term read of any other term selects one file of the dir."""
    for e in mf.load_manifest(idx)["segments"]:
        files = [_SegmentFile.open(f) for f in mf.segment_files(idx, {"segments": [e]})]
        keys = [list(zip(*pq.read_table(f.path, columns=["term", "shard"]).to_pydict().values()))
                for f in files]
        files, keys = zip(*sorted(zip(files, keys), key=lambda fk: fk[1][0]))
        assert all(k == sorted(k) for k in keys), e["path"]
        boundary = set()
        for a, b in zip(keys, keys[1:]):
            assert a[-1][0] <= b[0][0], e["path"]
            if a[-1][0] == b[0][0]:
                boundary.add(b[0][0])
        terms = {t for k in keys for t, _ in k}
        assert len(terms) > 10 * len(files) > 10
        for t in terms - boundary:
            assert sum(bool(f.groups(term_point_filter([t]))) for f in files) == 1, t


def test_every_writer_lays_files_out_by_term_range(spark, tmp_root):
    """A build without ``sort_segments``, an add and a merge that applies
    deletes each write term-range-partitioned, term-sorted files, so a
    driver read prunes whole files of every generation."""
    idx = os.path.join(tmp_root, "write_path_layout")
    full = corpus_df(spark, 300)
    key = F.xxhash64("repo", "path", "commit") % 3
    build_index(spark, full.filter(key != 0), idx, n_shards=4, n_groups=1)
    assert add_documents(spark, idx, full.filter(key == 0))["generation"] == 1
    _assert_term_range_layout(idx)
    stats = mf.read_doc_stats(spark, idx)
    assert delete_documents(spark, idx, stats.filter(F.col("doc_id") % 4 == 0)
                            .select("doc_id")) > 0
    assert merge_segments(spark, idx, apply_deletes=True)["generations"] == [2]
    _assert_term_range_layout(idx)


def test_add_and_merge_job_counts(spark, tmp_root):
    """One small add runs 12 Spark jobs, a delete of two ids 3 and a
    merge that applies deletes 10 (AQE runs each query stage as its own
    job, and the range partitioning of a segment write samples its keys
    in one). The add's counters and touched shards are observed during
    its staging write, so no job recounts the new rows or collects their
    shards, and its docID offsets are read from the doclens rows on the
    driver; its segment writer's jobs inherit the job group and are
    counted here. Every segment, doclens and doc_stats dir, and the
    staged posting runs, are read with their declared schemas, so no
    read infers one in a job, and the masks ride in the doclens rows,
    so neither the add nor the merge reads a mask table of its own."""
    idx = os.path.join(tmp_root, "write_path_jobs")
    full = corpus_df(spark, 120)
    key = F.xxhash64("repo", "path", "commit") % 4
    build_index(spark, full.filter(key != 0), idx, n_shards=4, n_groups=1)
    n, out = _jobs(spark, lambda: add_documents(spark, idx, full.filter(key == 0)))
    assert out["docs_added"] > 0
    assert n == 12
    victims = spark.createDataFrame([(1,), (SHARD_WIDTH + 2,)], "doc_id long")
    n, out = _jobs(spark, lambda: delete_documents(spark, idx, victims))
    assert out == 2
    assert n == 3
    n, out = _jobs(spark, lambda: merge_segments(spark, idx, apply_deletes=True))
    assert out["generations"] == [2]
    assert n == 10


@pytest.fixture(scope="module")
def small_index(spark, tmp_root):
    idx = os.path.join(tmp_root, "write_path_delete")
    build_index(spark, corpus_df(spark, 40), idx, n_shards=2, n_groups=1)
    return idx


def _masks(spark, idx):
    return sorted(d for r in mf.read_doclens(spark, idx).collect()
                  for d in r["deleted"] or ())


def test_delete_documents_counts_distinct_ids(spark, small_index):
    """The returned count is observed during the doclens write: an
    empty frame commits nothing and counts 0, duplicates count once."""
    idx = small_index
    version = mf.load_manifest(idx)["version"]
    assert delete_documents(spark, idx, spark.createDataFrame([], "doc_id long")) == 0
    assert mf.load_manifest(idx)["version"] == version
    ids = [(3,), (3,), (SHARD_WIDTH + 1,), (3,), (SHARD_WIDTH + 1,)]
    assert delete_documents(spark, idx, spark.createDataFrame(ids, "doc_id long")) == 2
    assert _masks(spark, idx) == [3, SHARD_WIDTH + 1]


def test_delete_documents_rejects_ids_outside_the_index(spark, small_index):
    """An id whose shard has no doclens row fails the delete with an
    error naming the shard, and nothing is committed."""
    idx = small_index
    before = (mf.load_manifest(idx), _masks(spark, idx))
    ids = spark.createDataFrame([(5,), (7 * SHARD_WIDTH + 2,)], "doc_id long")
    with pytest.raises(ValueError, match=r"shard\(s\) \[7\]"):
        delete_documents(spark, idx, ids)
    assert (mf.load_manifest(idx), _masks(spark, idx)) == before


def test_delete_documents_rejects_unallocated_ids(spark, tmp_root):
    """An id above its shard's last allocated slot is refused, and nothing
    is committed: the next add would hand it to a new doc, masked from
    its first commit. The add continues each shard at that slot, and its
    new docs are not masked."""
    idx = os.path.join(tmp_root, "write_path_unallocated")
    build_index(spark, corpus_df(spark, 100), idx, n_shards=2, n_groups=1)
    top = {int(r["shard"]): int(r["m"]) for r in mf.read_doc_stats(spark, idx)
           .groupBy("shard").agg(F.max("doc_id").alias("m")).collect()}
    assert mf.allocated_slots(idx) == {s: m - s * SHARD_WIDTH + 1 for s, m in top.items()}
    before = mf.load_manifest(idx)
    ids = spark.createDataFrame([(m + 1,) for m in top.values()], "doc_id long")
    with pytest.raises(ValueError, match="not allocated"):
        delete_documents(spark, idx, ids)
    assert mf.load_manifest(idx) == before and _masks(spark, idx) == []
    assert add_documents(spark, idx, corpus_df(spark, 140))["docs_added"] == 40
    new = mf.read_doc_stats(spark, idx).filter(F.col("doc_id").isin(
        [m + 1 for m in top.values()])).count()
    assert new == 2 and _masks(spark, idx) == []


def test_shadowed_doclens_dirs_are_retired(spark, tmp_root):
    """A doclens publish retires the dirs it leaves winning no shard: after
    a delete and an add the manifest lists exactly the dirs that
    ``read_doclens`` reads, and the others are gone from disk."""
    idx = os.path.join(tmp_root, "write_path_shadowed")
    build_index(spark, corpus_df(spark, 100), idx, n_shards=2, n_groups=1)
    assert delete_documents(spark, idx, spark.createDataFrame(
        [(3,), (SHARD_WIDTH + 3,)], "doc_id long")) == 2
    assert add_documents(spark, idx, corpus_df(spark, 140))["docs_added"] == 40
    listed = mf.load_manifest(idx)["doclens"]
    assert [os.path.join(idx, r) for r in listed] == [p for p, _ in mf._live_doclens(idx)]
    assert listed == ["dl_delta_g1"]
    assert not os.path.exists(os.path.join(idx, "dl_b0_g0"))
    assert _masks(spark, idx) == [3, SHARD_WIDTH + 3]


def test_delete_documents_takes_the_writer_lock(spark, small_index):
    """A delete is a commit like any other: behind a merge (or any
    writer) it raises IndexLockHeld instead of landing mid-merge."""
    idx = small_index
    ids = spark.createDataFrame([(4,)], "doc_id long")
    with index_lock(idx, purpose="merge_segments"):
        with pytest.raises(IndexLockHeld):
            delete_documents(spark, idx, ids)
    assert 4 not in _masks(spark, idx)


def test_index_with_tombstones_table_is_refused(spark, small_index, tmp_root):
    """An index written in the format-4 layout keeps its deletes in a
    ``tombstones`` table; reading it without them would bring the
    deleted docs back, so every doclens read refuses it by name."""
    idx = os.path.join(tmp_root, "write_path_format4")
    shutil.copytree(small_index, idx)
    os.makedirs(os.path.join(idx, "tombstones"))
    for read in (lambda: mf.read_doclens(spark, idx),
                 lambda: mf.deleted_count(idx)):
        with pytest.raises(ValueError, match="tombstones"):
            read()
