"""Posting-list codec: VByte/delta round-trips (property-based, FIXTURES.md
§F4), block-max metadata, and run merging."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_prep_opensearch_spark.operators.postings import (
    BLOCK,
    decode_posting_list,
    encode_posting_list,
    merge_posting_runs,
    vbyte_decode,
    vbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=2000))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert (vbyte_decode(vbyte_encode(arr)) == arr).all()


@pytest.mark.parametrize("size", [0, 1, 2, 127, 128, 129, 10_000])
def test_posting_roundtrip_sizes(size):
    rng = np.random.default_rng(size + 7)
    gaps = rng.integers(1, 2**40, size=size).astype(np.int64) if size else np.zeros(0, np.int64)
    docs = np.cumsum(gaps)
    tfs = rng.integers(1, 1000, size=size).astype(np.int64)
    dls = rng.integers(20, 4000, size=size).astype(np.int64)
    db, tb, blk = encode_posting_list(docs, tfs, dls, base=0)
    d2, t2 = decode_posting_list(db, tb, base=0)
    assert (d2 == docs).all() and (t2 == tfs).all()
    nblocks = (size + BLOCK - 1) // BLOCK
    assert blk.first.shape[0] == nblocks
    if size:
        assert blk.first[0] == docs[0] and blk.last[-1] == docs[-1]


def test_block_metadata_boundaries():
    n = BLOCK * 2 + 5
    docs = np.arange(100, 100 + n, dtype=np.int64)
    tfs = np.arange(1, n + 1, dtype=np.int64)
    dls = np.arange(2000, 2000 - n, -1, dtype=np.int64)
    _, _, blk = encode_posting_list(docs, tfs, dls)
    # block 0: docs[0..127]; block 1: docs[128..255]; block 2: the tail
    assert blk.max_tf.tolist() == [BLOCK, 2 * BLOCK, n]
    assert blk.min_dl.tolist() == [2000 - BLOCK + 1, 2000 - 2 * BLOCK + 1, 2000 - n + 1]
    assert blk.first.tolist() == [100, 100 + BLOCK, 100 + 2 * BLOCK]
    assert blk.last.tolist() == [100 + BLOCK - 1, 100 + 2 * BLOCK - 1, 100 + n - 1]


def test_base_anchoring():
    docs = np.array([1 << 30, (1 << 30) + 3], dtype=np.int64)
    tfs = np.array([1, 2], dtype=np.int64)
    dls = np.array([10, 10], dtype=np.int64)
    db_anchored, _, _ = encode_posting_list(docs, tfs, dls, base=1 << 30)
    db_raw, _, _ = encode_posting_list(docs, tfs, dls, base=0)
    assert len(db_anchored) < len(db_raw)
    d2, _ = decode_posting_list(db_anchored, vbyte_encode(tfs.astype(np.uint64)), base=1 << 30)
    assert (d2 == docs).all()


def test_unsorted_rejected():
    with pytest.raises(ValueError):
        encode_posting_list(
            np.array([5, 4], dtype=np.int64),
            np.array([1, 1], dtype=np.int64),
            np.array([10, 10], dtype=np.int64),
        )


def test_merge_disjoint_runs_concat():
    a = (np.array([1, 5], dtype=np.int64), np.array([2, 3], dtype=np.int64))
    b = (np.array([7, 9], dtype=np.int64), np.array([1, 1], dtype=np.int64))
    docs, tfs = merge_posting_runs([a, b])
    assert docs.tolist() == [1, 5, 7, 9]
    assert tfs.tolist() == [2, 3, 1, 1]


def test_merge_overlap_last_wins():
    a = (np.array([1, 5, 9], dtype=np.int64), np.array([2, 3, 4], dtype=np.int64))
    b = (np.array([5, 7], dtype=np.int64), np.array([10, 1], dtype=np.int64))
    docs, tfs = merge_posting_runs([a, b])
    assert docs.tolist() == [1, 5, 7, 9]
    assert tfs.tolist() == [2, 10, 1, 4]  # docID 5 takes run b's tf


# ---------------------------------------------------------------------------
# Positional postings (phrase-query support)
# ---------------------------------------------------------------------------

from data_prep_opensearch_spark.operators.postings import (  # noqa: E402
    decode_positions,
    encode_positions,
    gather_token_runs,
    merge_posting_runs_with_pos,
)


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**20), min_size=1, max_size=50),
        max_size=100,
    )
)
@settings(max_examples=150, deadline=None)
def test_positions_roundtrip(per_posting):
    # positions sorted ascending within each posting (dups allowed: the
    # code tokenizer emits sub-tokens at their parent's position)
    runs = [sorted(p) for p in per_posting]
    tfs = np.array([len(r) for r in runs], dtype=np.int64)
    pos = np.array([x for r in runs for x in r], dtype=np.int64)
    buf = encode_positions(pos, tfs)
    out = decode_positions(buf, tfs)
    assert (out == pos).all()


def test_positions_unsorted_within_posting_rejected():
    with pytest.raises(ValueError):
        encode_positions(
            np.array([5, 3], dtype=np.int64), np.array([2], dtype=np.int64)
        )


def test_positions_empty():
    assert encode_positions(np.zeros(0, np.int64), np.zeros(0, np.int64)) == b""
    assert decode_positions(b"", np.zeros(0, np.int64)).size == 0


def test_gather_token_runs_permutation():
    # postings with tfs [2,1,3]; reorder to [2,0,1]
    tfs = np.array([2, 1, 3], dtype=np.int64)
    idx = np.array([2, 0, 1], dtype=np.int64)
    g = gather_token_runs(idx, tfs)
    assert g.tolist() == [3, 4, 5, 0, 1, 2]


def test_merge_with_pos_last_wins():
    a = (
        np.array([1, 5], dtype=np.int64),
        np.array([2, 1], dtype=np.int64),
        np.array([0, 7, 3], dtype=np.int64),  # doc1: [0,7]; doc5: [3]
    )
    b = (
        np.array([5], dtype=np.int64),
        np.array([2], dtype=np.int64),
        np.array([4, 9], dtype=np.int64),  # doc5: [4,9] (wins)
    )
    docs, tfs, pos = merge_posting_runs_with_pos([a, b])
    assert docs.tolist() == [1, 5]
    assert tfs.tolist() == [2, 2]
    assert pos.tolist() == [0, 7, 4, 9]


# ---------------------------------------------------------------------------
# Whole-partition codec (encode_flat / decode_flat) vs the per-group
# reference codec
# ---------------------------------------------------------------------------

from data_prep_opensearch_spark.operators.postings import (  # noqa: E402
    SHARD_WIDTH,
    decode_flat,
    encode_flat,
)


def _random_partition(rng):
    """Postings of several (term, shard) groups in shuffled order: unique
    docIDs per group, tfs, doc lengths and per-posting position runs."""
    groups = {}
    for _ in range(int(rng.integers(1, 8))):
        key = (f"t{int(rng.integers(0, 4))}", int(rng.integers(0, 4)))
        n = int(rng.choice([1, 2, 127, 128, 129, int(rng.integers(1, 400))]))
        docs = np.sort(rng.choice(5000, size=n, replace=False)) + key[1] * SHARD_WIDTH
        tfs = rng.integers(1, 6, size=n)
        dls = rng.integers(1, 3000, size=n)
        pos = [np.sort(rng.integers(0, 2000, size=t)) for t in tfs]
        groups[key] = (docs.astype(np.int64), tfs.astype(np.int64),
                       dls.astype(np.int64), pos)
    rows = [(term, shard, d, t, dl, p) for (term, shard), g in groups.items()
            for d, t, dl, p in zip(*g)]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    terms = np.array([r[0] for r in rows], dtype=object)
    cols = [np.array([r[i] for r in rows], dtype=np.int64) for i in (2, 1, 3, 4)]
    pos = np.concatenate([r[5] for r in rows]).astype(np.int64)
    return groups, terms, cols, pos


@given(st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_encode_flat_matches_reference_codec(seed):
    """Every group row ``encode_flat`` emits, from postings in any order,
    equals ``encode_posting_list`` + ``encode_positions`` on that group:
    doc, tf and position bytes, df, cf and all six block arrays; the
    posting-run form carries the group's doc lengths as VByte; and
    ``decode_flat`` reads the rows back to the sorted postings. Rows
    come out in (term, shard) order, whether the terms are given one per
    posting or pre-factorized in any code order."""
    rng = np.random.default_rng(seed)
    groups, terms, (docs, shards, tfs, dls), pos = _random_partition(rng)
    seg = encode_flat(terms, docs, shards, tfs, dls, gen=3, with_blocks=True, pos=pos)
    runs = encode_flat(terms, docs, shards, tfs, dls, gen=0, with_blocks=False, pos=pos)
    assert len(seg) == len(runs) == len(groups)
    keys = list(zip(seg["term"], seg["shard"].astype(int)))
    assert keys == sorted(groups)
    # one code per (term, shard) group, numbered in a shuffled order
    group_keys = list(groups)
    code_of = {k: c for c, k in enumerate(group_keys[i] for i in
                                          rng.permutation(len(group_keys)))}
    codes = np.array([code_of[k] for k in zip(terms, shards.tolist())], np.int64)
    uniques = np.array([k[0] for k in sorted(code_of, key=code_of.get)], object)
    pre = encode_flat((codes, uniques), docs, shards, tfs, dls, gen=3,
                      with_blocks=True, pos=pos)
    assert list(zip(pre["term"], pre["shard"].astype(int))) == keys
    assert list(pre["doc_bytes"]) == list(seg["doc_bytes"])
    for row, run in zip(seg.itertuples(index=False), runs.itertuples(index=False)):
        d, t, dl, p = groups[(row.term, int(row.shard))]
        doc_b, tf_b, blk = encode_posting_list(d, t, dl, base=int(row.shard) * SHARD_WIDTH)
        assert (row.gen, row.df, row.cf) == (3, len(d), int(t.sum()))
        assert (row.doc_bytes, row.tf_bytes) == (doc_b, tf_b)
        assert row.pos_bytes == encode_positions(np.concatenate(p), t)
        for name in ("first", "last", "max_tf", "min_dl", "doc_off", "tf_off"):
            assert np.array_equal(getattr(row, f"block_{name}"), getattr(blk, name)), name
        assert (run.term, run.shard, run.df, run.cf) == (row.term, row.shard, row.df, row.cf)
        assert (run.doc_bytes, run.tf_bytes, run.pos_bytes) == (
            row.doc_bytes, row.tf_bytes, row.pos_bytes)
        assert run.dl_bytes == vbyte_encode(dl.astype(np.uint64))
    d2, t2, p2 = decode_flat(seg, positions=True)
    want = [groups[(r.term, int(r.shard))] for r in seg.itertuples(index=False)]
    assert np.array_equal(d2, np.concatenate([g[0] for g in want]))
    assert np.array_equal(t2, np.concatenate([g[1] for g in want]))
    assert np.array_equal(p2, np.concatenate([np.concatenate(g[3]) for g in want]))
