"""Inverted-index build: the engine's ETL entry point (SURVEY.md §3.3).

    scan -> normalize -> tokenize -> (term, docID, tf, dl)
         -> range-partition by (term, shard) -> encode term-sorted posting runs
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
  * doc_id   = shard * SHARD_WIDTH + offset[shard] + (row_number within
               shard ordered by (key_hash, repo, path, commit) - 1)
  The window partitions by shard (a real shuffle, scales out); ordering is
  total, so ids never depend on partition layout. Dense per-shard ids give
  small deltas -> tight VByte compression. ``offset`` is 0 for a build;
  an add continues each shard above its highest live id.

One write path: a build group and an added generation are both committed
by ``commit_generation`` — one tokenize pass stages posting runs and doc
stats, the segment and doclen writes run as concurrent Spark jobs, one
manifest publish makes them live, then the lineage row. Segment rows are
encoded by ``postings.encode_flat``, the same encoder the merge uses,
and every segment writer lays its files out by ``term_ranges``: each
file covers its own term range and holds its rows in term order, so a
driver read prunes whole files of every generation on their footers.

Checkpoint / resume (SURVEY.md §2.10 I3/I4): shards are processed in
``n_groups`` commit groups; each group appends segments + doclens +
doc_stats and then a lineage row (phase, group, gen, rows, postings, fp,
wall_ms, status) — the Spark analogue of the reference's per-page
checkpoint writes (stages/downloader/service.py:60-94). A resumed build
reads the lineage table and re-runs only incomplete groups (the
fingerprint-gated skip of stages/enricher/utils.py:1152-1172).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark import InheritableThread
from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    Window,
    functions as F,
    types as T,
)

from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.cancellation import cancel_requested, consume_cancel
from data_prep_opensearch_spark.operators.locks import index_lock
from data_prep_opensearch_spark.operators.postings import (
    SHARD_WIDTH,
    decode_flat,
    encode_flat,
    vbyte_decode,
    vbyte_encode,
)
from data_prep_opensearch_spark.session import sql_conf

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
    # the shard's deleted doc ids, sorted; null when none are masked
    T.StructField("deleted", T.ArrayType(T.LongType()), True),
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


def assign_doc_ids(df: DataFrame, n_shards: int,
                   offsets: dict[int, int] | None = None) -> DataFrame:
    """Deterministic dense-per-shard docIDs (see module docstring).
    ``offsets``: {shard: first free offset}; shards it omits start at 0."""
    keyed = df.withColumn(
        "key_hash", F.xxhash64(F.col("repo"), F.col("path"), F.col("commit"))
    ).withColumn("shard", F.pmod(F.col("key_hash"), F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("key_hash", "repo", "path", "commit")
    base = F.col("shard").cast("long") * F.lit(SHARD_WIDTH)
    if offsets is not None:
        base = base + F.create_map(*[
            x for s in range(n_shards) for x in (F.lit(s), F.lit(offsets.get(s, 0)))
        ])[F.col("shard")].cast("long")
    return keyed.withColumn(
        "doc_id", base + F.row_number().over(w).cast("long") - F.lit(1),
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


def term_ranges(rows: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """The segment layout every writer shares: ``rows`` range-partitioned
    on (term, shard), ``n_partitions`` ways (None: twice the default
    parallelism). A (term, shard) key never spans two partitions, and the
    partitions, so the files written from them, cover disjoint term
    ranges; neighbours share at most the one term whose shards straddle
    their boundary. Spark picks the bounds from a sample of the keys, in
    one job of its own."""
    if n_partitions is None:
        n_partitions = rows.sparkSession.sparkContext.defaultParallelism * 2
    return rows.repartitionByRange(n_partitions, "term", "shard")


def segments_from_runs(runs: DataFrame, gen: int, n_partitions: int | None = None,
                       positions: bool = False) -> DataFrame:
    """REDUCE: range-partition runs by (term, shard) (``term_ranges``);
    per partition, decode ALL runs with one concatenated VByte pass per
    stream, and re-encode with block-max metadata in (term, shard) order.
    Runs of one group come from disjoint doc partitions, so the lexsort
    inside encode_flat is a k-way merge, never a re-sort of overlapping
    data."""
    def reduce_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        docs, tfs, pos = decode_flat(pdf, positions)
        dfs = pdf["df"].to_numpy(dtype=np.int64)
        dls = vbyte_decode(b"".join(pdf["dl_bytes"])).astype(np.int64)
        yield encode_flat(np.repeat(pdf["term"].to_numpy(), dfs), docs,
                          np.repeat(pdf["shard"].to_numpy(dtype=np.int64), dfs),
                          tfs, dls, gen=gen, with_blocks=True, pos=pos)

    return term_ranges(runs, n_partitions).mapInPandas(reduce_runs, SEGMENT_SCHEMA)


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

# one kind= partition dir of a staged table: ``kind`` is in its path
STAGED_PART_SCHEMA = T.StructType(
    [f for f in STAGED_SCHEMA.fields if f.name != "kind"])

# a doc_stats dir is the kind=1 partition of a staged table (the posting
# run columns null); a vacuumed dir also holds each row's generation in
# ``_gen``, which other dirs take from their path
# (manifest.read_doc_stats_with_gen)
DOC_STATS_SCHEMA = T.StructType(
    STAGED_PART_SCHEMA.fields + [T.StructField("_gen", T.IntegerType(), True)])

# the declared schema of each index table that manifest.read_table reads;
# a format bump that changes a table's columns changes it here
TABLE_SCHEMAS = {
    "segments": SEGMENT_SCHEMA,
    "doclens": DOCLEN_SCHEMA,
    "doc_stats": DOC_STATS_SCHEMA,
    "lineage": LINEAGE_SCHEMA,
}


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
            runs = encode_flat((fl.codes, fl.uniques), fl.doc_ids, fl.shards,
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
    """Encode explicit (term, doc_id, shard, tf, dl) rows into segments,
    laid out by ``term_ranges`` — the un-combined path, kept for tests
    and ad-hoc use; build_index stages map-side combined runs
    (map_runs_and_stats) instead."""
    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        yield encode_flat(
            pdf["term"].to_numpy(),
            pdf["doc_id"].to_numpy(dtype=np.int64),
            pdf["shard"].to_numpy(dtype=np.int64),
            pdf["tf"].to_numpy(dtype=np.int64),
            pdf["dl"].to_numpy(dtype=np.int64),
            gen=gen,
            with_blocks=True,
        )

    return term_ranges(postings, n_partitions).mapInPandas(encode, SEGMENT_SCHEMA)


def encode_doclens(doc_stats: DataFrame, masks: DataFrame | None = None) -> DataFrame:
    """Per-shard positional doclen sidecar: dl_bytes = VByte of dl at
    offset (doc_id - base), scatter-written so the encoding stays correct
    when a vacuum has punched holes in the docID space (holes encode 0 —
    no posting references them). Guards shard population: a shard past
    SHARD_WIDTH would silently bleed docIDs into its neighbour's range.

    ``masks``: live doclens rows whose ``deleted`` the new rows keep,
    unioned into the same ``groupBy("shard")`` (no join, no extra job)."""
    rows = doc_stats.select("shard", "doc_id", "doclen", F.lit(None).cast(
        DOCLEN_SCHEMA["deleted"].dataType).alias("deleted"))
    if masks is not None:
        rows = rows.unionByName(masks.filter(F.col("deleted").isNotNull()).select(
            "shard", "deleted"), allowMissingColumns=True)

    def enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        base = shard * SHARD_WIDTH
        deleted = next(iter(pdf["deleted"].dropna()), None)
        # a mask row's null doc_id makes the id column float64 (exact
        # below 2**53); the doc rows are those without a mask
        pdf = pdf[pdf["deleted"].isna()]
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
            "deleted": [deleted],
        })

    return rows.groupBy("shard").applyInPandas(enc, DOCLEN_SCHEMA)


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

    Commit protocol (``commit_generation``, manifest.py): each group's
    segments/doclens go to deterministic per-group dirs written with
    mode("overwrite"), then the manifest is published, then the lineage
    row — so a crash before the publish re-runs the group IDEMPOTENTLY (no
    duplicate appends; the round-1 df-doubling window is closed), and a
    crash after it is finished from the committed stats. Writers are
    serialized by the per-index lock (locks.py; reference
    pipeline/locks.py:35-121).
    """
    with index_lock(index_dir, purpose="build_index"):
        return _build_index_locked(
            spark, source, index_dir, n_shards, tokenizer, n_groups,
            resume, stop_after_groups, positions,
        )


def _group_counters(is_doc) -> list:
    """Aggregates over a group's doc-stats rows (``is_doc`` selects
    them). sha256 is the content identity, so bit_xor over the keyed
    hashes is the order-independent group fingerprint WITHOUT another
    pass over content (idempotent-export identity,
    api/control_plane.py:698-704)."""
    return [
        F.bit_xor(F.when(is_doc, F.xxhash64("repo", "path", "commit", "sha256"))
                  ).alias("fp"),
        F.count(F.when(is_doc, 1)).alias("n"),
        F.sum("n_terms").alias("s"),
        F.sum("doclen").alias("dl"),
    ]


def _counters(row) -> dict:
    n = int(row["n"])
    return {"n_docs": n, "n_postings": int(row["s"] or 0),
            "fp": int(row["fp"] or 0) ^ n, "sum_dl": int(row["dl"] or 0)}


def _append_lineage(index_dir: str, key: tuple[str, int, int], c: dict,
                    t0: float) -> None:
    append_lineage_row(index_dir, (
        *key, c["n_docs"], c["n_postings"], c["fp"],
        int((time.monotonic() - t0) * 1000), "complete"))


def commit_generation(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    names: tuple[str, str, str],
    lineage: tuple[str, int, int],
    tokenizer: str,
    positions: bool,
    old_stats: DataFrame | None = None,
) -> dict:
    """Stage, encode and publish ONE commit group: a build group or an
    added generation. ``docs`` carries doc_id, shard and sha256;
    ``names`` = (staged dir, segment dir, doclens dir), relative to
    ``index_dir``; ``lineage`` = (phase, group_id, gen).

      1. ONE tokenize pass stages posting runs (kind=0) and doc stats
         (kind=1); the group's counters and touched shards are observed
         during that write, so no later job recounts them.
      2. The segment write (kind=0 -> segments_from_runs) and the doclen
         write (kind=1 -> encode_doclens) read DISJOINT staged partitions
         and run as concurrent Spark jobs.
      3. One manifest publish makes both live; kind=1 is referenced in
         place as the group's doc_stats (no rename, no second write).
      4. The lineage row, then the posting runs are removed.

    ``old_stats``: the doc_stats already live (an add). The doclens of
    every shard the group touches are re-encoded over those rows plus the
    new ones, keeping their ``deleted``; the manifest's ordered doclens
    list makes the new entry override the old one per shard. Returns the
    observed counters (n_docs, n_postings, fp, sum_dl)."""
    t0 = time.monotonic()
    staged_rel, seg_rel, dl_rel = names
    gen = lineage[2]
    staged = os.path.join(index_dir, staged_rel)
    kind0, kind1 = os.path.join(staged, "kind=0"), os.path.join(staged, "kind=1")
    is_doc = F.col("kind") == 1
    obs = Observation(f"commit_{seg_rel}")
    map_runs_and_stats(docs, tokenizer, positions).observe(
        obs, *_group_counters(is_doc),
        F.collect_set(F.when(is_doc, F.col("shard"))).alias("shards"),
    ).write.partitionBy("kind").mode("overwrite").parquet(staged)
    got = obs.get
    # a group can be empty (n_docs < n_shards, or empty shards): guard
    # both kinds and still commit the lineage row so resume skips it
    has_runs, has_stats = os.path.exists(kind0), os.path.exists(kind1)

    seg_err: list[BaseException] = []

    def _write_segments():
        try:
            runs = spark.read.schema(STAGED_PART_SCHEMA).parquet(kind0).select(
                "term", "shard", "df", "cf", "doc_bytes", "tf_bytes",
                "dl_bytes", "pos_bytes")
            segments_from_runs(runs, gen=gen, positions=positions).write.mode(
                "overwrite"
            ).parquet(os.path.join(index_dir, seg_rel))
        except BaseException as e:  # re-raised on the main thread
            seg_err.append(e)

    seg_thread = None
    if has_runs:
        # inherits the caller's job group and tags
        seg_thread = InheritableThread(target=_write_segments)
        seg_thread.start()
    try:
        if has_stats:
            stats, masks = mf.read_table(spark, "doc_stats", kind1), None
            if old_stats is not None:
                touched = F.col("shard").isin(sorted(int(x) for x in got["shards"]))
                stats = old_stats.filter(touched).unionByName(stats.drop("_gen"))
                masks = mf.read_doclens(spark, index_dir).filter(touched)
            mf.write_doclens(encode_doclens(stats, masks), os.path.join(index_dir, dl_rel))
    finally:
        # ALWAYS reap the segment writer before any exception can leave
        # the locked region: an unjoined thread would keep writing into
        # the index dir after the lock is released
        if seg_thread is not None:
            seg_thread.join()
    if seg_err:
        raise seg_err[0]

    # publish BEFORE the lineage row: a crash in between leaves a
    # committed group whose lineage the caller's recovery completes
    def _mut(m):
        if has_runs:
            mf.add_segment_entry(m, seg_rel, [gen])
        if has_stats:
            mf.add_doclens(m, index_dir, dl_rel)
            mf.add_unique(m["doc_stats"], f"{staged_rel}/kind=1")
    mf.update_manifest(index_dir, _mut)
    mf.gc_retired(index_dir)
    counters = _counters(got)
    _append_lineage(index_dir, lineage, counters, t0)
    # posting runs served their purpose; the kind=1 stats stay (the
    # manifest references them in place)
    shutil.rmtree(kind0, ignore_errors=True)
    return counters


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
            mf.read_table(spark, "lineage", lineage_dir)
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
    # Disable it for the build only.
    done_this_run: list[int] = []
    with sql_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
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
            staged_rel = f"staged/group={g}"
            seg_rel, dl_rel = f"seg_b0_g{g}", f"dl_b0_g{g}"

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
                f"{staged_rel}/kind=1" in man_now["doc_stats"]
                or any(e["path"] == seg_rel for e in man_now["segments"])
            )
            if committed:
                t0 = time.monotonic()
                kind1 = os.path.join(index_dir, staged_rel, "kind=1")
                c = _counters(
                    mf.read_table(spark, "doc_stats", kind1).select(
                        *_group_counters(F.lit(True))).collect()[0]
                    if os.path.exists(kind1)
                    else {"n": 0, "s": 0, "fp": 0, "dl": 0})
                _append_lineage(index_dir, ("postings", g, 0), c, t0)
                shutil.rmtree(os.path.join(index_dir, staged_rel, "kind=0"),
                              ignore_errors=True)
            else:
                c = commit_generation(
                    spark, index_dir, docs.filter(F.col("group_id") == g),
                    (staged_rel, seg_rel, dl_rel), ("postings", g, 0),
                    tokenizer, positions,
                )
            group_totals.append((c["n_docs"], c["sum_dl"]))
            done_this_run.append(g)

    if stop_after_groups is not None and len(todo) < n_groups - len(done_groups):
        return {"status": "interrupted", "groups_done": sorted(done_groups | set(todo))}

    # finalize: global stats -> meta.json. A fresh build already has every
    # group's (n, Σdoclen) from its commit observation — no extra Spark
    # job; a RESUMED build re-aggregates (the earlier groups' totals live
    # only in their lineage rows).
    total_docs = sum(n for n, _ in group_totals)
    total_dl = sum(dl for _, dl in group_totals)
    meta = {
        "n_docs": total_docs,
        "avgdl": (total_dl / total_docs) if total_docs else 0.0,
        "n_shards": n_shards,
        "shard_width": SHARD_WIDTH,
        "tokenizer": tokenizer,
        "positions": positions,
        "generations": [0],
        "status": "complete",
    }
    man = mf.load_manifest(index_dir)
    if done_groups and man and man["doc_stats"]:
        mf.refresh_corpus_stats(spark, index_dir, meta)
    mf.save_meta(index_dir, meta)
    return meta


def sort_segments(spark: SparkSession, index_dir: str, n_files: int | None = None) -> None:
    """Publish pass: rewrite every generation's segments into ONE dir of
    ``n_files`` files in the writers' layout (``term_ranges``), sorted
    by (term, shard, gen) within each file. Each generation's files
    already cover disjoint term ranges; this pass also gathers a term's
    rows of all generations into one file, so a read opens fewer files
    (the scan pruning X2/X3 of SURVEY.md §4, applied to our own index
    layout). Logical content is unchanged (index_fingerprint invariant).

    Commit = write a NEW sorted dir, swap the manifest pointer (one
    small-file atomic replace — object-store safe), GC the old dirs."""
    with index_lock(index_dir, purpose="sort_segments"):
        m = mf.load_manifest(index_dir) or mf.adopt_legacy(spark, index_dir)
        seg = mf.read_segments(spark, index_dir)
        gens = mf.live_gens(m)
        rel = f"seg_sorted_v{int(m.get('version', 0)) + 1}"
        (
            term_ranges(seg, n_files)
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
