"""Posting-list codec: delta + variable-byte (VByte/LEB128) encoding with
block-max metadata for block-max WAND (Ding & Suel, SIGIR'11).

Everything here is pure numpy (no Python per-element loops on the hot
path) so it runs Arrow-vectorized inside pandas UDFs — the mandated
"no per-row Python" execution style.

Wire format for one posting list (one (term, shard) group):
  - ``doc_bytes``: VByte of [docID_0 - shard_base, delta_1, delta_2, ...]
    where shard_base = shard * SHARD_WIDTH and delta_i = docID_i -
    docID_{i-1} (strictly positive — docIDs are unique and sorted).
  - ``tf_bytes``: VByte of [tf_0, tf_1, ...] (tf >= 1).
  - Block metadata, one entry per block of ``BLOCK`` postings:
      block_first[i], block_last[i]  — docID bounds (for skipping)
      block_max_tf[i]                — max tf in block
      block_min_dl[i]                — min doclen in block
    The (max_tf, min_dl) pair yields a monotone upper bound on the BM25
    contribution of any posting in the block, because BM25's tf-term is
    increasing in tf and decreasing in doclen.
  - ``pos_bytes`` (positional indexes): VByte of each posting's token
    positions, the first absolute and the rest as deltas.

Every writer (build, add, merge) goes through one whole-partition pair,
``decode_flat``/``encode_flat``; ``encode_posting_list`` and
``encode_positions`` encode one group, the reference codec the tests
hold ``encode_flat`` to.

Behavioral note: the reference stores content fingerprints and defers
pathologically large items (api/mysql_store.py:841-865); our analogue of
that skew isolation is the shard-bounded group size — a hot term's
postings are split across docID shards so no single encode task sees an
unbounded list.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

BLOCK = 128  # postings per block-max block
SHARD_WIDTH = 1 << 20  # docID capacity per shard; ids are dense so actual
                       # shard population just has to stay below this


# ---------------------------------------------------------------------------
# VByte (LEB128): 7 data bits per byte, MSB set => more bytes follow.
# ---------------------------------------------------------------------------

def vbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128 encode; also returns per-value byte lengths so a
    caller encoding MANY posting lists in one pass can slice the buffer
    per list (the whole-partition encode fast path)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # byte length of each value: 1 + number of 128-thresholds passed
    nbytes = np.ones(n, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    cur = v.copy()
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        byte = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        more = (nbytes[mask] > k + 1).astype(np.uint8) << np.uint8(7)
        out[starts[mask] + k] = byte | more
        cur[mask] >>= np.uint64(7)
    return out.tobytes(), nbytes


def vbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint64 array."""
    return vbyte_encode_with_lengths(values)[0]


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized LEB128 decode -> uint64 array."""
    if not buf:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # per-byte shift = 7 * (position within its value)
    idx = np.arange(b.shape[0], dtype=np.int64)
    within = idx - np.repeat(starts, ends - starts + 1)
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


# ---------------------------------------------------------------------------
# Posting list <-> wire format
# ---------------------------------------------------------------------------

@dataclass
class PostingBlockMeta:
    first: np.ndarray  # int64 per block
    last: np.ndarray   # int64 per block
    max_tf: np.ndarray  # int32 per block
    min_dl: np.ndarray  # int32 per block
    doc_off: np.ndarray  # int64 per block: byte offset of block start in doc_bytes
    tf_off: np.ndarray   # int64 per block: byte offset of block start in tf_bytes


def _empty_block_meta() -> PostingBlockMeta:
    z64 = np.zeros(0, dtype=np.int64)
    z32 = np.zeros(0, dtype=np.int32)
    return PostingBlockMeta(z64, z64.copy(), z32, z32.copy(), z64.copy(), z64.copy())


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    base: int = 0,
) -> tuple[bytes, bytes, PostingBlockMeta]:
    """Encode one sorted posting run.

    ``doc_ids`` must be strictly increasing; ``base`` is the shard's first
    docID (deltas start from it, so per-shard runs re-anchor cheaply).
    Per-block BYTE OFFSETS into both streams enable block-level lazy
    decode at query time: block b re-anchors on the stored block_first[b],
    so decoding it never touches earlier bytes (Ding & Suel SIGIR'11
    skip-data, adapted to the VByte wire format).
    """
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    dl = np.ascontiguousarray(doclens, dtype=np.int64)
    if d.shape[0] == 0:
        return b"", b"", _empty_block_meta()
    if d.shape[0] > 1 and not (np.diff(d) > 0).all():
        raise ValueError("doc_ids must be strictly increasing")
    deltas = np.empty_like(d)
    deltas[0] = d[0] - base
    deltas[1:] = np.diff(d)
    doc_bytes, doc_nb = vbyte_encode_with_lengths(deltas.astype(np.uint64))
    tf_bytes, tf_nb = vbyte_encode_with_lengths(t.astype(np.uint64))

    n = d.shape[0]
    nblocks = (n + BLOCK - 1) // BLOCK
    bounds = np.arange(0, nblocks * BLOCK, BLOCK)
    first = d[bounds]
    last = d[np.minimum(bounds + BLOCK - 1, n - 1)]
    max_tf = np.maximum.reduceat(t, bounds).astype(np.int32)
    min_dl = np.minimum.reduceat(dl, bounds).astype(np.int32)
    doc_cum = np.concatenate(([0], np.cumsum(doc_nb)))
    tf_cum = np.concatenate(([0], np.cumsum(tf_nb)))
    meta = PostingBlockMeta(first, last, max_tf, min_dl,
                            doc_cum[bounds], tf_cum[bounds])
    return doc_bytes, tf_bytes, meta


def decode_posting_block(
    doc_bytes: bytes,
    tf_bytes: bytes,
    doc_off: int,
    doc_end: int,
    tf_off: int,
    tf_end: int,
    first_doc: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode ONE block given its byte range and stored first docID —
    no earlier bytes are read (the block's first delta is relative to the
    previous block's last doc, which we replace with the stored anchor)."""
    deltas = vbyte_decode(doc_bytes[doc_off:doc_end]).astype(np.int64)
    if deltas.shape[0] == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    docs = np.cumsum(deltas) - deltas[0] + first_doc
    tfs = vbyte_decode(tf_bytes[tf_off:tf_end]).astype(np.int64)
    return docs, tfs


def decode_posting_list(
    doc_bytes: bytes, tf_bytes: bytes, base: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Decode to (doc_ids int64 sorted, tfs int64)."""
    deltas = vbyte_decode(doc_bytes).astype(np.int64)
    if deltas.shape[0] == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    doc_ids = np.cumsum(deltas) + base
    tfs = vbyte_decode(tf_bytes).astype(np.int64)
    if tfs.shape[0] != doc_ids.shape[0]:
        raise ValueError("tf/doc length mismatch")
    return doc_ids, tfs


def encode_positions(pos: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode a flat token-position stream for one posting list.

    ``pos`` holds the within-document token positions of every occurrence,
    posting-major (all occurrences of posting 0, then posting 1, ...);
    ``tfs`` gives the occurrence count per posting, so
    ``len(pos) == tfs.sum()``. Positions are sorted ascending within each
    posting; deltas within a posting are >= 0 (0 happens only for
    tokenizers that emit several tokens at one position, e.g. the code
    tokenizer's sub-tokens at their parent identifier's position). The
    first occurrence of each posting is stored absolute, the rest as
    deltas — the classic Lucene .prx layout, re-expressed for the VByte
    wire format.
    """
    p = np.ascontiguousarray(pos, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    if p.shape[0] == 0:
        return b""
    if p.shape[0] != int(t.sum()):
        raise ValueError("len(pos) must equal tfs.sum()")
    deltas = p.copy()
    deltas[1:] -= p[:-1]
    starts = np.cumsum(t) - t
    deltas[starts] = p[starts]
    if (deltas < 0).any():
        raise ValueError("positions must be sorted ascending within a posting")
    return vbyte_encode(deltas.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` — returns the flat absolute
    position stream (posting-major, ``tfs.sum()`` entries)."""
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    deltas = vbyte_decode(buf).astype(np.int64)
    if deltas.shape[0] == 0:
        return np.zeros(0, dtype=np.int64)
    if deltas.shape[0] != int(t.sum()):
        raise ValueError("pos/tf length mismatch")
    cs = np.cumsum(deltas)
    ends = np.cumsum(t)
    starts = ends - t
    before = np.where(starts > 0, cs[starts - 1], 0)
    return cs - np.repeat(before, t)


def gather_token_runs(idx: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Token-level gather indices for a POSTING-level permutation/selection.

    Given ``idx`` (indices into the original posting array, in output
    order) and the ORIGINAL per-posting token counts ``tfs``, returns the
    flat token indices that pull each selected posting's occurrence run
    (contiguous in the original token stream) into output order — the
    variable-length-run gather used to keep position streams aligned
    through posting re-sorts and last-wins merges.
    """
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    tok_start = np.cumsum(t) - t
    sel_t = t[idx]
    total = int(sel_t.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    out_start = np.cumsum(sel_t) - sel_t
    return (
        np.repeat(tok_start[idx], sel_t)
        + np.arange(total, dtype=np.int64)
        - np.repeat(out_start, sel_t)
    )


def merge_posting_runs(
    runs: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Merge sorted (doc_ids, tfs) runs into one sorted run.

    Runs from different builds of the *same* docID space may overlap; the
    run listed last wins for a duplicated docID (last-writer-wins upsert —
    the MERGE semantics of the reference's ko_records store,
    api/mysql_store.py:925-1071). Runs from disjoint shards concatenate.
    """
    if not runs:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    docs = np.concatenate([r[0] for r in runs])
    tfs = np.concatenate([r[1] for r in runs])
    # stable sort keeps later runs after earlier ones for equal docIDs
    order = np.argsort(docs, kind="stable")
    docs, tfs = docs[order], tfs[order]
    if docs.shape[0] > 1:
        # keep the LAST occurrence of each docID
        keep = np.concatenate((docs[1:] != docs[:-1], [True]))
        docs, tfs = docs[keep], tfs[keep]
    return docs, tfs


def merge_posting_runs_with_pos(
    runs: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`merge_posting_runs` for positional runs — each run is
    (doc_ids, tfs, flat positions); the surviving posting's position run
    follows it through the last-wins merge via a token-level gather."""
    if not runs:
        z = np.zeros(0, np.int64)
        return z, z.copy(), z.copy()
    docs = np.concatenate([r[0] for r in runs])
    tfs = np.concatenate([r[1] for r in runs])
    pos = np.concatenate([r[2] for r in runs])
    order = np.argsort(docs, kind="stable")
    if docs.shape[0] > 1:
        ds = docs[order]
        keep = np.concatenate((ds[1:] != ds[:-1], [True]))
        idx = order[keep]
    else:
        idx = order
    return docs[idx], tfs[idx], pos[gather_token_runs(idx, tfs)]


# ---------------------------------------------------------------------------
# Whole-partition codec: many (term, shard) groups per call
# ---------------------------------------------------------------------------

def decode_flat(pdf: pd.DataFrame, positions: bool = False
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Flat (docs, tfs, pos) of a frame of encoded group rows: one VByte
    decode per stream over the concatenated buffers, docIDs re-anchored
    by a groupwise cumsum. Postings come out row-major, so
    ``np.repeat(col, df)`` aligns any per-row column with them. Position
    resets land at posting boundaries, so the position stream decodes in
    one pass against the flat tf array."""
    dfs = pdf["df"].to_numpy(dtype=np.int64)
    deltas = vbyte_decode(b"".join(pdf["doc_bytes"])).astype(np.int64)
    tfs = vbyte_decode(b"".join(pdf["tf_bytes"])).astype(np.int64)
    pos = (decode_positions(b"".join(pdf["pos_bytes"]), tfs)
           if positions else None)
    ends = np.cumsum(dfs)
    starts = ends - dfs
    total = np.cumsum(deltas)
    before = np.where(starts > 0, total[starts - 1], 0)
    base = pdf["shard"].to_numpy(dtype=np.int64) * SHARD_WIDTH
    docs = total - np.repeat(before - base, dfs)
    return docs, tfs, pos


def encode_flat(terms, docs, shards, tfs, dls, gen: int, with_blocks: bool,
                pos: np.ndarray | None = None) -> pd.DataFrame:
    """Whole-partition vectorized posting encode: one lexsort, ONE VByte
    pass per stream, per-group byte slicing — no per-group numpy dispatch.
    Groups are (term, shard); a group's rows must hold distinct docIDs.
    Returns segment rows (``with_blocks``: gen plus the six block arrays)
    or posting-run rows (``dl_bytes`` instead, so the reducer can rebuild
    block_min_dl).

    ``terms``: one term per posting, or a pre-factorized ``(codes,
    uniques)`` pair (``uniques`` may repeat a term, one code per (term,
    shard) group). Groups are renumbered in term order, so rows come out
    sorted by (term, shard): a range-partitioned writer's file is then
    term-sorted, and its row groups' term min/max prune reads.
    ``pos``: optional token-level position stream aligned with the INPUT
    posting order (len == tfs.sum(), ascending within each posting); when
    given, a ``pos_bytes`` stream rides each group (phrase support), else
    the column is null."""
    if isinstance(terms, tuple):  # pre-factorized (codes, uniques)
        codes, uniq_terms = terms
    else:
        codes, uniq_terms = pd.factorize(pd.Series(terms), sort=False)
    # code point order is UTF-8 byte order: the order of Spark's range
    # partitioner and of parquet's string statistics
    uniq_terms, rank = np.unique(np.asarray(uniq_terms, dtype=object),
                                 return_inverse=True)
    codes = rank[codes]
    order = np.lexsort((docs, shards, codes))
    if pos is not None:
        # token-level gather follows the posting permutation
        pos = pos[gather_token_runs(order, tfs)]
    codes, shards, docs = codes[order], shards[order], docs[order]
    tfs, dls = tfs[order], dls[order]
    n = docs.shape[0]

    change = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
    starts = np.concatenate(([0], np.flatnonzero(change) + 1))
    ends = np.concatenate((starts[1:], [n]))
    glen = ends - starts

    deltas = np.empty_like(docs)
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[starts] = docs[starts] - shards[starts] * SHARD_WIDTH
    if (deltas < 0).any():
        raise ValueError("doc_ids not sorted within a (term, shard) group")
    doc_buf, doc_nb = vbyte_encode_with_lengths(deltas.astype(np.uint64))
    tf_buf, tf_nb = vbyte_encode_with_lengths(tfs.astype(np.uint64))
    dbo = np.concatenate(([0], np.cumsum(np.add.reduceat(doc_nb, starts))))
    tbo = np.concatenate(([0], np.cumsum(np.add.reduceat(tf_nb, starts))))
    cf = np.add.reduceat(tfs, starts)
    g_terms = uniq_terms.take(codes[starts])
    g_shards = shards[starts].astype(np.int32)

    pos_col: list | None = None
    if pos is not None:
        # one VByte pass over the whole token stream; per-posting resets
        # (first occurrence absolute) make per-group slices self-contained
        tok_starts = np.cumsum(tfs) - tfs
        pdeltas = pos.copy()
        pdeltas[1:] -= pos[:-1]
        pdeltas[tok_starts] = pos[tok_starts]
        pos_buf, pos_nb = vbyte_encode_with_lengths(pdeltas.astype(np.uint64))
        pos_cum = np.concatenate(([0], np.cumsum(pos_nb)))
        pbo = np.concatenate((pos_cum[tok_starts[starts]], [len(pos_buf)]))
        pos_col = [pos_buf[a:b] for a, b in zip(pbo[:-1], pbo[1:])]

    if not with_blocks:
        dl_buf, dl_nb = vbyte_encode_with_lengths(dls.astype(np.uint64))
        lbo = np.concatenate(([0], np.cumsum(np.add.reduceat(dl_nb, starts))))
        # columnar construction: no per-row tuple/from-records inference
        return pd.DataFrame({
            "term": g_terms,
            "shard": g_shards,
            "df": glen,
            "cf": cf,
            "doc_bytes": [doc_buf[a:b] for a, b in zip(dbo[:-1], dbo[1:])],
            "tf_bytes": [tf_buf[a:b] for a, b in zip(tbo[:-1], tbo[1:])],
            "dl_bytes": [dl_buf[a:b] for a, b in zip(lbo[:-1], lbo[1:])],
            "pos_bytes": pos_col if pos_col is not None
            else [None] * starts.shape[0],
        })

    # block metadata for ALL groups in one reduceat sweep: blocks are
    # contiguous BLOCK-sized ranges inside each group, so the global list
    # of block starts is strictly increasing
    nblocks = (glen + BLOCK - 1) // BLOCK
    rep_gstart = np.repeat(starts, nblocks)
    rep_gend = np.repeat(ends, nblocks)
    boff = np.concatenate(([0], np.cumsum(nblocks)))
    within = np.arange(int(nblocks.sum()), dtype=np.int64) - np.repeat(boff[:-1], nblocks)
    bstart = rep_gstart + BLOCK * within
    bend = np.minimum(bstart + BLOCK, rep_gend)
    bfirst = docs[bstart]
    blast = docs[bend - 1]
    bmax_tf = np.maximum.reduceat(tfs, bstart).astype(np.int32)
    bmin_dl = np.minimum.reduceat(dls, bstart).astype(np.int32)
    # per-block byte offsets, relative to each group's byte slice
    doc_cum = np.concatenate(([0], np.cumsum(doc_nb)))
    tf_cum = np.concatenate(([0], np.cumsum(tf_nb)))
    bdoc_off = doc_cum[bstart] - np.repeat(dbo[:-1], nblocks)
    btf_off = tf_cum[bstart] - np.repeat(tbo[:-1], nblocks)
    bpairs = list(zip(boff[:-1], boff[1:]))
    return pd.DataFrame({
        "term": g_terms,
        "shard": g_shards,
        "gen": np.full(starts.shape[0], gen, dtype=np.int32),
        "df": glen,
        "cf": cf,
        "doc_bytes": [doc_buf[a:b] for a, b in zip(dbo[:-1], dbo[1:])],
        "tf_bytes": [tf_buf[a:b] for a, b in zip(tbo[:-1], tbo[1:])],
        "pos_bytes": pos_col if pos_col is not None
        else [None] * starts.shape[0],
        "block_first": [bfirst[a:b] for a, b in bpairs],
        "block_last": [blast[a:b] for a, b in bpairs],
        "block_max_tf": [bmax_tf[a:b] for a, b in bpairs],
        "block_min_dl": [bmin_dl[a:b] for a, b in bpairs],
        "block_doc_off": [bdoc_off[a:b] for a, b in bpairs],
        "block_tf_off": [btf_off[a:b] for a, b in bpairs],
    })
