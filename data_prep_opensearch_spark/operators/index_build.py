"""Inverted-index build: the engine's ETL entry point (SURVEY.md §3.3).

    scan -> normalize -> tokenize -> (term, docID, tf, dl)
         -> hash-repartition by (term, shard) -> encode sorted posting runs
         -> segments + doclen sidecar + doc stats + lineage

Shard/salting design (the skew strategy, SURVEY.md §4 X8):
  * ``shard = f(docID)`` — docIDs are assigned densely per shard, so a
    shard IS a contiguous docID range of width <= SHARD_WIDTH.
  * A posting group is (term, shard): a stopword-like hot term is split
    across all shards, so no encode task ever sees more than SHARD_WIDTH
    postings — the explicit salting the north rule demands (salt = shard
    = f(docID), which keeps per-salt runs disjoint and docID-sorted, so
    phase-2 merges are concat-of-sorted-runs, never a re-sort).
  * At 10^12 docs this scales by adding shards, never by growing tasks.

docID assignment (deterministic under ANY parallelism):
  * key_hash = xxhash64(repo, path, commit)  — pure row function
  * shard    = pmod(key_hash, n_shards)
  * doc_id   = shard * SHARD_WIDTH + (row_number within shard ordered by
               (key_hash, repo, path, commit) - 1)
  The window partitions by shard (a real shuffle, scales out); ordering is
  total, so ids never depend on partition layout. Dense per-shard ids give
  small deltas -> tight VByte compression.

Checkpoint / resume (SURVEY.md §2.10 I3/I4): shards are processed in
``n_groups`` commit groups; each group appends segments + doclens +
doc_stats and then a lineage row (phase, group, shard count, rows, fp,
wall_ms, status) — the Spark analogue of the reference's per-page
checkpoint writes (stages/downloader/service.py:60-94). A resumed build
anti-joins the lineage table and re-runs only incomplete groups
(the fingerprint-gated skip of stages/enricher/utils.py:1152-1172).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    Window,
    functions as F,
    types as T,
)


def _tick(label: str, t0: float) -> float:
    """Env-gated phase timing (``DPOSS_BUILD_TIMINGS=1``): the scaling
    bench reads these lines to attribute N-vs-4N inefficiency to a
    specific build phase rather than guessing."""
    now = time.monotonic()
    if os.environ.get("DPOSS_BUILD_TIMINGS") == "1":
        print(f"PHASE {label} {now - t0:.2f}", flush=True)
    return now

from data_prep_opensearch_spark.operators.postings import vbyte_encode

SHARD_WIDTH = 1 << 20  # docID capacity per shard; ids are dense so actual
                       # shard population just has to stay below this

POSTING_ROW_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("tf", T.IntegerType(), False),
    T.StructField("dl", T.IntegerType(), False),
])

SEGMENT_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("gen", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
    T.StructField("doc_bytes", T.BinaryType(), False),
    T.StructField("tf_bytes", T.BinaryType(), False),
    # within-doc token positions (phrase queries); null when the index was
    # built without positions — parquet stores a null column at ~0 bytes,
    # and column pruning keeps non-phrase queries from ever reading it
    T.StructField("pos_bytes", T.BinaryType(), True),
    T.StructField("block_first", T.ArrayType(T.LongType()), False),
    T.StructField("block_last", T.ArrayType(T.LongType()), False),
    T.StructField("block_max_tf", T.ArrayType(T.IntegerType()), False),
    T.StructField("block_min_dl", T.ArrayType(T.IntegerType()), False),
    # per-block byte offsets into doc_bytes/tf_bytes: block-level lazy
    # decode at query time (decode ONLY the blocks a candidate set needs)
    T.StructField("block_doc_off", T.ArrayType(T.LongType()), False),
    T.StructField("block_tf_off", T.ArrayType(T.LongType()), False),
])

DOCLEN_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("base", T.LongType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("dl_bytes", T.BinaryType(), False),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("phase", T.StringType(), False),
    T.StructField("group_id", T.IntegerType(), False),
    T.StructField("gen", T.IntegerType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("n_postings", T.LongType(), False),
    T.StructField("input_fp", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("status", T.StringType(), False),
])


def append_lineage_row(index_dir: str, row: tuple) -> None:
    """Append ONE lineage row as a driver-side pyarrow parquet file —
    spark.read.parquet reads the directory fine, and a single-row Spark
    job costs ~1s of driver round-trip per commit group, which is pure
    serial time in the build's critical path (it showed up directly in
    the N-vs-4N scaling measurement)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    lineage_dir = os.path.join(index_dir, "lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    names = [f.name for f in LINEAGE_SCHEMA.fields]
    arrays = []
    for (name, val) in zip(names, row):
        if name in ("phase", "status"):
            arrays.append(pa.array([val], type=pa.string()))
        elif name in ("group_id", "gen"):
            arrays.append(pa.array([int(val)], type=pa.int32()))
        else:
            arrays.append(pa.array([int(val)], type=pa.int64()))
    table = pa.Table.from_arrays(arrays, names=names)
    tmp = os.path.join(lineage_dir, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lineage_dir, f"part-{uuid.uuid4().hex}.parquet"))


def assign_doc_ids(df: DataFrame, n_shards: int) -> DataFrame:
    """Deterministic dense-per-shard docIDs (see module docstring)."""
    keyed = df.withColumn(
        "key_hash", F.xxhash64(F.col("repo"), F.col("path"), F.col("commit"))
    ).withColumn("shard", F.pmod(F.col("key_hash"), F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("key_hash", "repo", "path", "commit")
    return keyed.withColumn(
        "doc_id",
        F.col("shard").cast("long") * F.lit(SHARD_WIDTH)
        + F.row_number().over(w).cast("long")
        - F.lit(1),
    ).drop("key_hash")


def tokenize_to_postings(docs: DataFrame, tokenizer: str = "simple") -> DataFrame:
    """(doc_id, shard, content) -> (term, doc_id, shard, tf, dl) rows.

    Arrow-vectorized: one pandas batch in, one exploded batch out — the
    UDTF-shaped flatMap of SURVEY.md §2.11.
    """
    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_prep_opensearch_spark.functions.tokenize import (
            SIMPLE_TOKEN_RE,
            TOKENIZERS,
        )

        tok = TOKENIZERS[tokenizer]
        for pdf in batches:
            if pdf.empty:
                continue
            if tokenizer == "simple":
                # vectorized path: pandas C-level findall + groupby
                token_lists = pdf["content"].str.lower().str.findall(SIMPLE_TOKEN_RE)
            else:
                token_lists = pdf["content"].map(lambda c: tok(c or ""))
            lens = token_lists.str.len().to_numpy(dtype=np.int64)
            flat = pd.DataFrame({
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens),
                "shard": np.repeat(pdf["shard"].to_numpy(dtype=np.int32), lens),
                "dl": np.repeat(lens, lens).astype(np.int32),
                "term": np.concatenate([np.array(t, dtype=object) for t in token_lists])
                if lens.sum() else np.array([], dtype=object),
            })
            out = (
                flat.groupby(["doc_id", "shard", "dl", "term"], sort=False)
                .size()
                .rename("tf")
                .reset_index()
            )
            yield pd.DataFrame({
                "term": out["term"],
                "doc_id": out["doc_id"].astype("int64"),
                "shard": out["shard"].astype("int32"),
                "tf": out["tf"].astype("int32"),
                "dl": out["dl"].astype("int32"),
            })

    return docs.select("doc_id", "shard", "content").mapInPandas(
        explode, POSTING_ROW_SCHEMA
    )


class _FlatPostings:
    """Flat per-(doc, term) posting columns for one batch (all numpy)."""

    __slots__ = ("codes", "uniques", "doc_ids", "shards", "tfs", "dls",
                 "doc_lens", "doc_n_terms", "pos")

    def __init__(self, codes, uniques, doc_ids, shards, tfs, dls,
                 doc_lens, doc_n_terms, pos=None):
        self.codes = codes          # int per posting (index into uniques)
        self.uniques = uniques      # unique term strings
        self.doc_ids = doc_ids      # int64 per posting
        self.shards = shards        # int64 per posting
        self.tfs = tfs              # int64 per posting
        self.dls = dls              # int64 per posting
        self.doc_lens = doc_lens    # int64 per INPUT doc
        self.doc_n_terms = doc_n_terms  # int64 per INPUT doc
        # token-level within-doc positions, posting-major and ascending
        # within each posting (len == tfs.sum()); None when not collected
        self.pos = pos


def _flatten_tokens(
    pdf: pd.DataFrame, tokenizer: str, positions: bool = False
) -> _FlatPostings:
    """Content rows -> flat posting columns.

    The 'simple' path is PURE ARROW C++ (utf8_lower + split_pattern_regex
    + dictionary_encode): no per-token Python objects exist at any point.
    The earlier object-array pipeline allocated millions of PyStrings per
    batch, which serialized across concurrent workers on the allocator —
    the single biggest build-scaling bottleneck measured. Token counting
    is then one integer lexsort + run-length pass.

    ``positions`` additionally collects each occurrence's within-doc
    token position (phrase-query support). Position semantics per
    tokenizer: 'simple' = token ordinal; 'code' = IDENTIFIER ordinal,
    with split sub-tokens sharing their parent identifier's position
    (Lucene WordDelimiterFilter's increment-0 behavior — a phrase over
    sub-tokens of one identifier matches, and whole-token phrases are
    unaffected by the sub-token injection).
    """
    ndocs = len(pdf)
    if tokenizer == "simple":
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(pdf["content"], type=pa.string())
        toks = pc.split_pattern_regex(pc.utf8_lower(arr), "[^a-z0-9_]+")
        flat = pc.list_flatten(toks)
        parent = pc.list_parent_indices(toks)
        mask = pc.not_equal(flat, "")          # splits emit '' at edges
        flat = flat.filter(mask)
        row_idx = parent.filter(mask).to_numpy().astype(np.int64)
        if len(flat) == 0:
            z = np.zeros(0, np.int64)
            return _FlatPostings(z, np.array([], dtype=object), z, z, z, z,
                                 np.zeros(ndocs, np.int64), np.zeros(ndocs, np.int64))
        enc = pc.dictionary_encode(flat)
        if isinstance(enc, pa.ChunkedArray):
            enc = enc.combine_chunks()
        codes = enc.indices.to_numpy().astype(np.int64)
        uniques = np.asarray(enc.dictionary.to_pylist(), dtype=object)
        lens = np.bincount(row_idx, minlength=ndocs).astype(np.int64)
        if positions:
            # parent indices are sorted, so tokens are grouped by row in
            # document order: position = global index - row start
            row_start = np.cumsum(lens) - lens
            pos_arr = (
                np.arange(row_idx.shape[0], dtype=np.int64)
                - row_start[row_idx]
            )
    elif tokenizer == "code":
        # PURE ARROW C++ identifier-splitting tokenizer (ROADMAP round-1
        # #4 closed): whole lowered identifiers + camelCase/snake_case
        # sub-tokens, matching functions.tokenize.tokenize_code as a
        # per-document MULTISET (order differs; tf/dl aggregation is
        # order-insensitive). Property-tested against the python function
        # in tests/test_tokenize.py.
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(pdf["content"], type=pa.string())
        idents_l = pc.split_pattern_regex(arr, "[^A-Za-z0-9_]+")
        flat = pc.list_flatten(idents_l)
        parent = pc.list_parent_indices(idents_l)
        mask = pc.not_equal(flat, "")
        flat = flat.filter(mask)
        row_w = parent.filter(mask).to_numpy().astype(np.int64)
        if len(flat) == 0:
            z = np.zeros(0, np.int64)
            return _FlatPostings(z, np.array([], dtype=object), z, z, z, z,
                                 np.zeros(ndocs, np.int64), np.zeros(ndocs, np.int64))
        whole = pc.utf8_lower(flat)
        # camel boundaries -> '_' separators, then split like snake_case
        marked = pc.replace_substring_regex(flat, r"([a-z0-9])([A-Z])", r"\1_\2")
        # acronym boundary: digits count like lowercase (CAMEL_RE's
        # lookahead is [A-Z][a-z0-9]) — 'XX0' splits as x + x0
        marked = pc.replace_substring_regex(marked, r"([A-Z]+)([A-Z][a-z0-9])", r"\1_\2")
        subs_l = pc.split_pattern(pc.utf8_lower(marked), "_")
        sub_flat = pc.list_flatten(subs_l)
        sub_parent = pc.list_parent_indices(subs_l)
        sub_mask = pc.not_equal(sub_flat, "")
        sub_flat = sub_flat.filter(sub_mask)
        sub_parent = sub_parent.filter(sub_mask).to_numpy().astype(np.int64)
        # an identifier contributes sub-tokens only when it splits (>1)
        pieces_per_ident = np.bincount(sub_parent, minlength=len(flat))
        keep = pieces_per_ident > 1
        sub_sel = keep[sub_parent]
        sub_tokens = sub_flat.filter(pa.array(sub_sel))
        row_s = row_w[sub_parent[sub_sel]]
        combined = pa.chunked_array([whole, sub_tokens]).combine_chunks()
        row_idx = np.concatenate((row_w, row_s))
        enc = pc.dictionary_encode(combined)
        if isinstance(enc, pa.ChunkedArray):
            enc = enc.combine_chunks()
        codes = enc.indices.to_numpy().astype(np.int64)
        uniques = np.asarray(enc.dictionary.to_pylist(), dtype=object)
        lens = np.bincount(row_idx, minlength=ndocs).astype(np.int64)
        # (the shared lexsort below re-groups by row; no pre-sort needed)
        if positions:
            # position = identifier ordinal within the doc; sub-tokens
            # inherit their parent identifier's position (increment 0)
            lens_w = np.bincount(row_w, minlength=ndocs).astype(np.int64)
            row_start_w = np.cumsum(lens_w) - lens_w
            pos_w = (
                np.arange(row_w.shape[0], dtype=np.int64)
                - row_start_w[row_w]
            )
            pos_arr = np.concatenate((pos_w, pos_w[sub_parent[sub_sel]]))
    else:
        from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS

        tok = TOKENIZERS[tokenizer]
        token_lists = pdf["content"].map(lambda c: tok(c or ""))
        lens = token_lists.str.len().to_numpy(dtype=np.int64)
        if lens.sum() == 0:
            z = np.zeros(0, np.int64)
            return _FlatPostings(z, np.array([], dtype=object), z, z, z, z,
                                 lens, np.zeros(ndocs, np.int64))
        all_tokens = np.concatenate([np.array(t, dtype=object) for t in token_lists])
        codes, uniques = pd.factorize(pd.Series(all_tokens), sort=False)
        codes = codes.astype(np.int64)
        uniques = np.asarray(uniques, dtype=object)
        row_idx = np.repeat(np.arange(ndocs, dtype=np.int64), lens)
        if positions:
            row_start = np.cumsum(lens) - lens
            pos_arr = (
                np.arange(row_idx.shape[0], dtype=np.int64)
                - np.repeat(row_start, lens)
            )
    if positions:
        # third key keeps each posting's occurrence run position-sorted
        # (needed for the code tokenizer, whose concat interleaves whole
        # and sub tokens; a no-op reorder for the in-order tokenizers)
        order = np.lexsort((pos_arr, codes, row_idx))
    else:
        order = np.lexsort((codes, row_idx))
    c, r = codes[order], row_idx[order]
    change = np.concatenate(([True], (c[1:] != c[:-1]) | (r[1:] != r[:-1])))
    starts = np.flatnonzero(change)
    tf = np.diff(np.concatenate((starts, [c.shape[0]])))
    u_r = r[starts]
    doc_ids_in = pdf["doc_id"].to_numpy(dtype=np.int64)
    shards_in = pdf["shard"].to_numpy(dtype=np.int64)
    doc_n_terms = np.zeros(ndocs, dtype=np.int64)
    np.add.at(doc_n_terms, u_r, 1)
    return _FlatPostings(
        codes=c[starts],
        uniques=np.asarray(uniques, dtype=object),
        doc_ids=doc_ids_in[u_r],
        shards=shards_in[u_r],
        tfs=tf,
        dls=lens[u_r],
        doc_lens=lens,
        doc_n_terms=doc_n_terms,
        pos=pos_arr[order] if positions else None,
    )


def _encode_flat(terms, docs, shards, tfs, dls, gen: int, with_blocks: bool,
                 pos: np.ndarray | None = None) -> pd.DataFrame:
    """Whole-partition vectorized posting encode: one lexsort, ONE VByte
    pass per stream, per-group byte slicing — no per-group numpy dispatch.
    Returns SEGMENT_SCHEMA rows (with_blocks) or RUN_SCHEMA rows (runs also
    carry dl_bytes so the reducer can rebuild block_min_dl).

    ``pos``: optional token-level position stream aligned with the INPUT
    posting order (len == tfs.sum(), ascending within each posting); when
    given, a ``pos_bytes`` stream rides each group (phrase support), else
    the column is null."""
    from data_prep_opensearch_spark.operators.postings import (
        BLOCK,
        gather_token_runs,
        vbyte_encode_with_lengths,
    )

    if isinstance(terms, tuple):  # pre-factorized (codes, uniques)
        codes, uniq_terms = terms
    else:
        codes, uniq_terms = pd.factorize(pd.Series(terms), sort=False)
    uniq_terms = np.asarray(uniq_terms, dtype=object)
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


RUN_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
    T.StructField("doc_bytes", T.BinaryType(), False),
    T.StructField("tf_bytes", T.BinaryType(), False),
    T.StructField("dl_bytes", T.BinaryType(), False),
    T.StructField("pos_bytes", T.BinaryType(), True),
])


def map_posting_runs(docs: DataFrame, tokenizer: str = "simple",
                     positions: bool = False) -> DataFrame:
    """MAP-SIDE COMBINE (the partial aggregation of SURVEY.md §4 X6, done
    explicitly because posting encode isn't a builtin agg): each input
    partition tokenizes its docs and emits already-encoded sorted posting
    RUNS per (term, shard). The shuffle then moves ~vocab×partitions small
    binary rows instead of one row per posting — at 240k docs that is
    ~0.6M rows instead of 20M, which is what keeps the (term, shard)
    shuffle from dominating the build at scale."""
    def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        fl = _flatten_tokens(pdf, tokenizer, positions=positions)
        if fl.doc_ids.shape[0] == 0:
            return
        yield _encode_flat((fl.codes, fl.uniques), fl.doc_ids, fl.shards,
                           fl.tfs, fl.dls, gen=0, with_blocks=False,
                           pos=fl.pos)

    return docs.select("doc_id", "shard", "content").mapInPandas(run_map, RUN_SCHEMA)


def segments_from_runs(runs: DataFrame, gen: int, n_partitions: int | None = None,
                       positions: bool = False) -> DataFrame:
    """REDUCE: hash-repartition runs by (term, shard); per partition,
    decode ALL runs with three concatenated VByte passes, rebuild the flat
    posting columns, and re-encode with block-max metadata. Runs of one
    group come from disjoint doc partitions, so the lexsort inside
    _encode_flat is a k-way merge, never a re-sort of overlapping data."""
    if n_partitions is None:
        n_partitions = runs.sparkSession.sparkContext.defaultParallelism * 2

    def reduce_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_prep_opensearch_spark.operators.postings import (
            decode_positions,
            vbyte_decode,
        )

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        dfs = pdf["df"].to_numpy(dtype=np.int64)
        # one decode per stream over the concatenated buffers
        deltas = vbyte_decode(b"".join(pdf["doc_bytes"])).astype(np.int64)
        tfs = vbyte_decode(b"".join(pdf["tf_bytes"])).astype(np.int64)
        dls = vbyte_decode(b"".join(pdf["dl_bytes"])).astype(np.int64)
        pos = None
        if positions:
            # position resets land exactly at posting boundaries, so the
            # concatenated streams decode in ONE pass against the flat tf
            # array — run boundaries need no special casing
            pos = decode_positions(b"".join(pdf["pos_bytes"]), tfs)
        # re-anchor docIDs: groupwise cumsum over the flat delta array
        ends = np.cumsum(dfs)
        starts = ends - dfs
        total = np.cumsum(deltas)
        before = np.where(starts > 0, total[starts - 1], 0)
        shards_row = pdf["shard"].to_numpy(dtype=np.int64)
        base_rep = np.repeat(shards_row * SHARD_WIDTH, dfs)
        docs = total - np.repeat(before, dfs) + base_rep
        terms = np.repeat(pdf["term"].to_numpy(), dfs)
        shards = np.repeat(shards_row, dfs)
        yield _encode_flat(terms, docs, shards, tfs, dls, gen=gen,
                           with_blocks=True, pos=pos)

    return runs.repartition(n_partitions, "term", "shard").mapInPandas(
        reduce_runs, SEGMENT_SCHEMA
    )


def build_segments(docs: DataFrame, tokenizer: str = "simple", gen: int = 0,
                   n_partitions: int | None = None,
                   positions: bool = False) -> DataFrame:
    """tokenize -> map-side partial runs -> shuffle -> merged segments."""
    return segments_from_runs(map_posting_runs(docs, tokenizer, positions),
                              gen, n_partitions, positions)


STAGED_SCHEMA = T.StructType([
    T.StructField("kind", T.IntegerType(), False),  # 0 = posting run, 1 = doc stats
    T.StructField("term", T.StringType(), True),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("df", T.LongType(), True),
    T.StructField("cf", T.LongType(), True),
    T.StructField("doc_bytes", T.BinaryType(), True),
    T.StructField("tf_bytes", T.BinaryType(), True),
    T.StructField("dl_bytes", T.BinaryType(), True),
    T.StructField("pos_bytes", T.BinaryType(), True),
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("repo", T.StringType(), True),
    T.StructField("path", T.StringType(), True),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("sha256", T.StringType(), True),
    T.StructField("doclen", T.LongType(), True),
    T.StructField("n_terms", T.LongType(), True),
])


def map_runs_and_stats(docs: DataFrame, tokenizer: str = "simple",
                       positions: bool = False) -> DataFrame:
    """ONE tokenize pass per partition emitting a tagged union of
    (kind=0) encoded posting runs and (kind=1) per-doc stats rows.

    Tokenization is the dominant map-side cost; staging both outputs from
    a single pass halves it versus separate runs/stats jobs. The staged
    parquet is also the natural mid-build checkpoint artifact: external
    sort runs on disk, exactly the LSM shape of the reference's per-page
    snapshots (stages/downloader/service.py:60-94)."""
    def run_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        fl = _flatten_tokens(pdf, tokenizer, positions=positions)
        cols = [f.name for f in STAGED_SCHEMA.fields]
        if fl.doc_ids.shape[0]:
            runs = _encode_flat((fl.codes, fl.uniques), fl.doc_ids, fl.shards,
                                fl.tfs, fl.dls, gen=0, with_blocks=False,
                                pos=fl.pos)
            runs.insert(0, "kind", 0)
            for c in ("doc_id", "repo", "path", "commit", "lang", "sha256",
                      "doclen", "n_terms"):
                runs[c] = None
            yield runs[cols]
        stats = pdf[["doc_id", "shard", "repo", "path", "commit", "lang", "sha256"]].copy()
        stats.insert(0, "kind", 1)
        stats["shard"] = stats["shard"].astype("int32")
        stats["doclen"] = fl.doc_lens
        stats["n_terms"] = fl.doc_n_terms
        for c in ("term", "df", "cf", "doc_bytes", "tf_bytes", "dl_bytes",
                  "pos_bytes"):
            stats[c] = None
        yield stats[cols]

    return docs.select(
        "doc_id", "shard", "repo", "path", "commit", "lang", "sha256", "content"
    ).mapInPandas(run_map, STAGED_SCHEMA)


def encode_segments(postings: DataFrame, gen: int, n_partitions: int | None = None) -> DataFrame:
    """Encode explicit (term, doc_id, shard, tf, dl) rows into segments —
    the un-combined path, kept for tests and ad-hoc use; build_index uses
    build_segments (map-side combine) instead."""
    if n_partitions is None:
        n_partitions = postings.sparkSession.sparkContext.defaultParallelism * 2

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        yield _encode_flat(
            pdf["term"].to_numpy(),
            pdf["doc_id"].to_numpy(dtype=np.int64),
            pdf["shard"].to_numpy(dtype=np.int64),
            pdf["tf"].to_numpy(dtype=np.int64),
            pdf["dl"].to_numpy(dtype=np.int64),
            gen=gen,
            with_blocks=True,
        )

    return postings.repartition(n_partitions, "term", "shard").mapInPandas(
        encode, SEGMENT_SCHEMA
    )


def doc_stats_map(docs: DataFrame, tokenizer: str = "simple") -> DataFrame:
    """Per-doc stats WITHOUT any shuffle or join: doclen and distinct-term
    count are partition-local facts (a doc lives in exactly one partition),
    so they ride along with the metadata columns in one Arrow pass."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("doclen", T.LongType(), False),
        T.StructField("n_terms", T.LongType(), False),
    ])

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            fl = _flatten_tokens(pdf, tokenizer)
            out = pdf[["doc_id", "shard", "repo", "path", "commit", "lang", "sha256"]].copy()
            out["doclen"] = fl.doc_lens
            out["n_terms"] = fl.doc_n_terms
            out["shard"] = out["shard"].astype("int32")
            yield out

    return docs.select(
        "doc_id", "shard", "repo", "path", "commit", "lang", "sha256", "content"
    ).mapInPandas(stats, out_schema)


def encode_doclens(doc_stats: DataFrame) -> DataFrame:
    """Per-shard positional doclen sidecar: dl_bytes = VByte of dl at
    offset (doc_id - base), scatter-written so the encoding stays correct
    when a vacuum has punched holes in the docID space (holes encode 0 —
    no posting references them). Guards shard population: a shard past
    SHARD_WIDTH would silently bleed docIDs into its neighbour's range."""
    def enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        base = shard * SHARD_WIDTH
        offs = pdf["doc_id"].to_numpy(dtype=np.int64) - base
        if offs.size and (int(offs.max()) >= SHARD_WIDTH or int(offs.min()) < 0):
            raise ValueError(
                f"shard {shard} docIDs overflow SHARD_WIDTH={SHARD_WIDTH} "
                f"(max offset {int(offs.max())}): increase n_shards"
            )
        arr = np.zeros(int(offs.max()) + 1 if offs.size else 0, dtype=np.int64)
        arr[offs] = pdf["doclen"].to_numpy(dtype=np.int64)
        return pd.DataFrame({
            "shard": [shard],
            "base": [base],
            "n_docs": [len(pdf)],
            "dl_bytes": [vbyte_encode(arr.astype(np.uint64))],
        })

    return doc_stats.groupBy("shard").applyInPandas(enc, DOCLEN_SCHEMA)


def _group_fp(docs: DataFrame) -> tuple[int, int]:
    """(order-independent input fingerprint, row count) in ONE job — the
    idempotent-export identity pattern, api/control_plane.py:698-704."""
    row = docs.select(
        F.expr("bit_xor(xxhash64(repo, path, commit, content))").alias("fp"),
        F.count("*").alias("n"),
    ).collect()[0]
    n = int(row["n"])
    return (int(row["fp"] or 0) ^ n, n)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    n_shards: int = 8,
    tokenizer: str = "simple",
    n_groups: int = 4,
    resume: bool = False,
    stop_after_groups: int | None = None,
    positions: bool = True,
) -> dict:
    """Full index build with per-group checkpointing.

    ``positions`` (default on) stores within-doc token positions per
    posting — the phrase-query sidecar stream. Non-phrase queries never
    read the column (parquet column pruning), so the cost is build-time
    encode + index bytes only; pass False for a tf-only index.

    ``stop_after_groups`` simulates a mid-build kill for the resume test
    (FIXTURES.md §F6). Returns the meta dict (also persisted to meta.json
    once ALL groups are complete).

    Commit protocol (manifest.py): each group's segments/doclens go to
    deterministic per-group dirs written with mode("overwrite"), then the
    manifest is published, then the lineage row — so a crash anywhere in
    the window re-runs the group IDEMPOTENTLY (no duplicate appends; the
    round-1 df-doubling window is closed). Writers are serialized by the
    per-index lock (locks.py; reference pipeline/locks.py:35-121).
    """
    from data_prep_opensearch_spark.operators.locks import index_lock

    with index_lock(index_dir, purpose="build_index"):
        return _build_index_locked(
            spark, source, index_dir, n_shards, tokenizer, n_groups,
            resume, stop_after_groups, positions,
        )


def _build_index_locked(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    n_shards: int,
    tokenizer: str,
    n_groups: int,
    resume: bool,
    stop_after_groups: int | None,
    positions: bool,
) -> dict:
    from data_prep_opensearch_spark.operators import manifest as mf

    os.makedirs(index_dir, exist_ok=True)
    lineage_dir = os.path.join(index_dir, "lineage")

    docs = assign_doc_ids(source, n_shards)
    # content fingerprint invariant (input_hint): sha2(content, 256)
    docs = docs.withColumn("sha256", F.sha2(F.col("content"), 256))
    docs = docs.withColumn("group_id", F.pmod(F.col("shard"), F.lit(n_groups)).cast("int"))
    # deliberately NOT cached: the docID window's shuffle files already
    # persist across this session's jobs (Spark reuses the ShuffleDependency),
    # and feeding python workers from the columnar block cache measured
    # SLOWER than re-reading shuffle files — with worse parallelism

    done_groups: set[int] = set()
    if resume and os.path.exists(lineage_dir):
        done = (
            spark.read.parquet(lineage_dir)
            .filter((F.col("phase") == "postings") & (F.col("status") == "complete"))
            .select("group_id")
            .distinct()
            .collect()
        )
        done_groups = {int(r["group_id"]) for r in done}

    todo = [g for g in range(n_groups) if g not in done_groups]
    if stop_after_groups is not None:
        todo = todo[:stop_after_groups]
    group_totals: list[tuple[int, int]] = []  # (n_docs, sum_doclen) per group

    # AQE partition coalescing optimizes JVM-relational stages but merges
    # the docID-window output into few, UNEVEN partitions — and for the
    # python-heavy tokenize stage that means stragglers and idle workers.
    # Disable it for the build only (restored after).
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")

    from data_prep_opensearch_spark.operators.cancellation import (
        cancel_requested,
        consume_cancel,
    )

    done_this_run: list[int] = []
    try:
        for g in todo:
            # cooperative cancel (I5): between commit groups is the safe
            # point — the previous group is atomically committed, this one
            # has not started. The flag is consumed so the next run
            # (resume) starts clean.
            if cancel_requested(index_dir):
                consume_cancel(index_dir)
                return {
                    "status": "interrupted",
                    "cancelled": True,
                    "groups_done": sorted(done_groups | set(done_this_run)),
                }
            t0 = time.monotonic()
            runs_dir = os.path.join(index_dir, "staged", f"group={g}")
            run_cols = ["term", "shard", "df", "cf", "doc_bytes", "tf_bytes",
                        "dl_bytes", "pos_bytes"]
            kind0 = os.path.join(runs_dir, "kind=0")
            kind1 = os.path.join(runs_dir, "kind=1")
            seg_rel, dl_rel = f"seg_b0_g{g}", f"dl_b0_g{g}"
            stats_rel = f"staged/group={g}/kind=1"

            # crash-window recovery (round-2 ADVICE): the manifest publishes
            # only AFTER every one of the group's writes completed, so a
            # manifest that already references this group means a prior run
            # finished the data and died inside the publish->lineage window.
            # From the moment of publish the referenced dirs are immutable —
            # re-running the overwrite would leave the manifest pointing at a
            # half-written doc_stats dir if THIS run also crashed mid-write.
            # Recompute the lineage counters from the committed stats (one
            # tiny scan) and skip the writes entirely.
            man_now = mf.load_manifest(index_dir)
            committed = bool(man_now) and (
                stats_rel in man_now["doc_stats"]
                or any(e["path"] == seg_rel for e in man_now["segments"])
            )
            if committed:
                n_docs, n_postings, fp = 0, 0, 0
                if os.path.exists(kind1):
                    g_stats = spark.read.parquet(kind1)
                    agg_row = g_stats.select(
                        F.expr(
                            "bit_xor(xxhash64(repo, path, commit, sha256))"
                        ).alias("fp"),
                        F.count("*").alias("n"),
                        F.sum("n_terms").alias("s"),
                        F.sum("doclen").alias("dl"),
                    ).collect()[0]
                    n_docs = int(agg_row["n"])
                    fp = int(agg_row["fp"] or 0) ^ n_docs
                    n_postings = int(agg_row["s"] or 0)
                    group_totals.append((n_docs, int(agg_row["dl"] or 0)))
                append_lineage_row(
                    index_dir,
                    ("postings", g, 0, n_docs, n_postings, fp,
                     int((time.monotonic() - t0) * 1000), "complete"),
                )
                shutil.rmtree(kind0, ignore_errors=True)
                done_this_run.append(g)
                continue

            gdocs = docs.filter(F.col("group_id") == g)
            # ONE tokenize pass stages posting runs + doc stats together
            # (map-side combine: the (term, shard) shuffle then moves ~vocab ×
            # partitions small binary rows, not one row per posting — measured
            # 20M rows -> 0.6M rows at 240k docs). partitionBy("kind") splits
            # the two row kinds into separate parquet dirs in the SAME job;
            # the kind=1 (doc stats) partition is then simply REFERENCED from
            # the manifest — no rename, no second write.
            tmark = time.monotonic()
            map_runs_and_stats(gdocs, tokenizer, positions).write.partitionBy(
                "kind"
            ).mode("overwrite").parquet(runs_dir)
            tmark = _tick("staged_write", tmark)
            # a group can be empty (n_docs < n_shards, or empty shards): guard
            # both kinds and still commit the lineage row so resume skips it
            has_runs, has_stats = os.path.exists(kind0), os.path.exists(kind1)

            # the segment write (kind=0) and the doclen write + commit agg
            # (kind=1) read DISJOINT staged partitions — run them as
            # concurrent Spark jobs (threads; Spark's FIFO scheduler
            # interleaves their tasks across the same slots). The commit
            # agg rides the doclen job via Observation instead of being
            # its own scan — two job boundaries removed from the serial
            # per-group window (the north rule's scaling criterion is
            # Amdahl-bound by exactly this window).
            seg_err: list[BaseException] = []

            def _write_segments():
                try:
                    runs = spark.read.parquet(kind0).select(*run_cols)
                    segments_from_runs(runs, gen=0, positions=positions).write.mode(
                        "overwrite"
                    ).parquet(os.path.join(index_dir, seg_rel))
                except BaseException as e:  # re-raised on the main thread
                    seg_err.append(e)

            seg_thread = None
            if has_runs:
                seg_thread = threading.Thread(target=_write_segments)
                seg_thread.start()
            n_docs, n_postings, fp = 0, 0, 0
            try:
                if has_stats:
                    g_stats = spark.read.parquet(kind1)
                    # group identity + counters observed DURING the doclen
                    # write (one job, no second scan) — sha256 is the content
                    # identity, so this is the order-independent corpus
                    # fingerprint WITHOUT another pass over content
                    # (idempotent-export identity, api/control_plane.py:698-704).
                    # sum(doclen) rides along so a fresh build's finalize
                    # needs NO extra Spark job.
                    obs = Observation(f"commit_g{g}")
                    observed = g_stats.observe(
                        obs,
                        F.expr("bit_xor(xxhash64(repo, path, commit, sha256))").alias("fp"),
                        F.count(F.lit(1)).alias("n"),
                        F.sum("n_terms").alias("s"),
                        F.sum("doclen").alias("dl"),
                    )
                    mf.write_doclens(encode_doclens(observed),
                                     os.path.join(index_dir, dl_rel))
                    agg_row = obs.get
                    n_docs = int(agg_row["n"])
                    fp = int(agg_row["fp"] or 0) ^ n_docs
                    n_postings = int(agg_row["s"] or 0)
                    group_totals.append((n_docs, int(agg_row["dl"] or 0)))
            finally:
                # ALWAYS reap the segment writer before any exception can
                # leave the locked region: an unjoined thread would keep
                # writing into the index dir after the lock is released
                if seg_thread is not None:
                    seg_thread.join()
            if seg_err:
                raise seg_err[0]
            tmark = _tick("seg_dl_commit", tmark)

            # publish BEFORE the lineage row: a crash in between re-runs the
            # group, overwrites the same dirs, republishes the same entries
            def _mut(m, _seg=seg_rel, _dl=dl_rel, _st=stats_rel,
                     _runs=has_runs, _stats=has_stats):
                if _runs:
                    mf.add_segment_entry(m, _seg, [0])
                if _stats:
                    mf.add_unique(m["doclens"], _dl)
                    mf.add_unique(m["doc_stats"], _st)
            mf.update_manifest(index_dir, _mut)

            wall = int((time.monotonic() - t0) * 1000)
            append_lineage_row(
                index_dir, ("postings", g, 0, n_docs, n_postings, fp, wall, "complete")
            )
            # posting runs served their purpose; the kind=1 stats stay (the
            # manifest references them in place)
            shutil.rmtree(kind0, ignore_errors=True)
            done_this_run.append(g)
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)


    if stop_after_groups is not None and len(todo) < n_groups - len(done_groups):
        return {"status": "interrupted", "groups_done": sorted(done_groups | set(todo))}

    # finalize: global stats -> meta.json (atomic tmp+rename — the
    # reference's atomic_write_json, pipeline/io.py:28-33). A fresh build
    # already has every group's (n, Σdoclen) from its commit agg — no
    # extra Spark job; a RESUMED build re-aggregates (the earlier groups'
    # totals live only in their lineage rows).
    from data_prep_opensearch_spark.operators.manifest import read_doc_stats

    man = mf.load_manifest(index_dir)
    if not (man and man["doc_stats"]):  # fully empty corpus
        total_docs, avgdl = 0, 0.0
    elif not done_groups:
        total_docs = sum(n for n, _ in group_totals)
        total_dl = sum(dl for _, dl in group_totals)
        avgdl = (total_dl / total_docs) if total_docs else 0.0
    else:
        stats = read_doc_stats(spark, index_dir)
        agg = stats.select(
            F.count("*").alias("n"), F.avg("doclen").alias("avgdl")
        ).collect()[0]
        total_docs, avgdl = int(agg["n"]), float(agg["avgdl"] or 0.0)
    meta = {
        "n_docs": total_docs,
        "avgdl": avgdl,
        "n_shards": n_shards,
        "shard_width": SHARD_WIDTH,
        "tokenizer": tokenizer,
        "positions": positions,
        "generations": [0],
        "status": "complete",
    }
    tmp = os.path.join(index_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, os.path.join(index_dir, "meta.json"))
    return meta


def sort_segments(spark: SparkSession, index_dir: str, n_files: int | None = None) -> None:
    """Publish pass: rewrite segments range-partitioned + sorted by term so
    each parquet file covers a narrow term range — query-time ``term IN``
    filters then prune whole files/row-groups via min/max stats (the scan-
    pruning X2/X3 of SURVEY.md §4, applied to our own index layout).
    Logical content is unchanged (index_fingerprint invariant).

    Commit = write a NEW sorted dir, swap the manifest pointer (one
    small-file atomic replace — object-store safe), GC the old dirs."""
    from data_prep_opensearch_spark.operators import manifest as mf
    from data_prep_opensearch_spark.operators.locks import index_lock

    with index_lock(index_dir, purpose="sort_segments"):
        m = mf.load_manifest(index_dir) or mf.adopt_legacy(spark, index_dir)
        if n_files is None:
            n_files = spark.sparkContext.defaultParallelism * 2
        seg = mf.read_segments(spark, index_dir)
        gens = mf.live_gens(m)
        rel = f"seg_sorted_v{int(m.get('version', 0)) + 1}"
        (
            seg.repartitionByRange(n_files, "term", "shard")
            .sortWithinPartitions("term", "shard", "gen")
            .write.mode("overwrite")
            .parquet(os.path.join(index_dir, rel))
        )
        old_rels = [e["path"] for e in m["segments"] if e["path"] != rel]

        def _mut(mm):
            mm["segments"] = [{"path": rel, "gens": gens}]
        mf.update_manifest(index_dir, _mut)
        mf.retire_paths(index_dir, old_rels)


def index_fingerprint(spark: SparkSession, index_dir: str) -> int:
    """Order-independent fingerprint of the LOGICAL index: per (term,
    shard), generations are merged (last-wins) and the canonical decoded
    postings are hashed; fingerprints sum mod 2^64. Equal fingerprints <=>
    identical retrievable index, regardless of segment layout."""
    import hashlib

    from data_prep_opensearch_spark.operators.manifest import read_segments
    from data_prep_opensearch_spark.operators.postings import (
        decode_posting_list,
        merge_posting_runs,
    )

    seg = read_segments(spark, index_dir)

    out_schema = T.StructType([T.StructField("fp", T.LongType(), False)])

    def fp_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if pdf.empty:
            yield pd.DataFrame({"fp": pd.Series(dtype="int64")})
            return
        total = 0
        for (term, shard), grp in pdf.groupby(["term", "shard"]):
            runs = []
            for row in grp.sort_values("gen").itertuples(index=False):
                runs.append(decode_posting_list(
                    bytes(row.doc_bytes), bytes(row.tf_bytes),
                    base=int(shard) * SHARD_WIDTH,
                ))
            docs, tfs = merge_posting_runs(runs)
            h = hashlib.sha256()
            h.update(str(term).encode())
            h.update(int(shard).to_bytes(8, "little"))
            h.update(docs.astype("<i8").tobytes())
            h.update(tfs.astype("<i8").tobytes())
            total = (total + int.from_bytes(h.digest()[:8], "little")) % (1 << 64)
        yield pd.DataFrame({"fp": [total - (1 << 63)]})  # keep in int64 range

    parts = seg.repartition(
        seg.sparkSession.sparkContext.defaultParallelism, "term", "shard"
    ).mapInPandas(fp_part, out_schema)
    rows = parts.collect()
    total = 0
    for r in rows:
        total = (total + (int(r["fp"]) + (1 << 63))) % (1 << 64)
    return total
