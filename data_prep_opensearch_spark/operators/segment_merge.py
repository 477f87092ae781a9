"""Log-structured segment merge (SURVEY.md §7.1 M3).

Incremental builds append new generations of (term, shard) posting runs;
this job consolidates them k-way per pass until one generation remains —
the tree-reduce shape of the reference's chunk-summary fan-in
(stages/enricher/vision.py:469-512), applied to postings.

Merging is a concat-of-sorted-runs with last-wins dedup on docID (MERGE
upsert semantics) — never a global re-sort, because every run is already
docID-sorted and the shard bounds group size. Each partition of
segment rows, laid out by the build's ``index_build.term_ranges``, is
decoded into flat posting arrays in one pass (``postings.decode_flat``);
the last-wins dedup across generations and the drop of deleted docs are
array ops over the whole partition, and the survivors are re-encoded in
(term, shard) order by ``postings.encode_flat``, the build's encoder.
Every dir is read with its declared schema, so no read infers one in a
Spark job of its own. Idempotency: the merged index's logical fingerprint
equals the input's (verified by tests), so re-running a merge is a no-op
semantically.

Commit protocol: every pass writes a NEW immutable segment dir and
publishes it by atomically rewriting manifest.json (manifest.py) — no
directory renames, object-store safe. The dirs a pass consumed are GC'd
after the publish. ``apply_deletes`` drops the docs the doclens rows
mask and VACUUMS doc_stats (their rows dropped, masks cleared, N/avgdl
recomputed into meta) so post-delete BM25 *scores*, not just
retrieval, match a fresh build of the survivors.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession, functions as F

from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.cancellation import cancel_requested, consume_cancel
from data_prep_opensearch_spark.operators.index_build import (
    SEGMENT_SCHEMA,
    SHARD_WIDTH,
    encode_doclens,
    term_ranges,
)
from data_prep_opensearch_spark.operators.locks import index_lock
from data_prep_opensearch_spark.operators.postings import (
    decode_flat,
    encode_flat,
    gather_token_runs,
    vbyte_decode,
)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    fan_in: int = 8,
    apply_deletes: bool = False,
) -> dict:
    """Merge generations until one remains, ``fan_in`` generations per pass.

    With ``apply_deletes``, the docIDs masked in the doclens rows are
    physically dropped from the merged postings and from doc_stats, and
    the masks are cleared (the history-suppressing MERGE of
    api/mysql_store.py:951-999). Deletes take the same writer lock, so
    none lands between the merge pass and the vacuum.
    """
    with index_lock(index_dir, purpose="merge_segments"):
        return _merge_locked(spark, index_dir, fan_in, apply_deletes)


def _merge_locked(
    spark: SparkSession, index_dir: str, fan_in: int, apply_deletes: bool
) -> dict:
    meta = mf.load_meta(index_dir)
    m = mf.load_manifest(index_dir) or mf.adopt_legacy(spark, index_dir)

    # the masks reach the pass in the doclens rows it joins by shard; the
    # driver only counts them, to skip the full pass and the vacuum when
    # there are none. A merge that keeps deleted docs leaves them out.
    deletes = apply_deletes and mf.deleted_count(index_dir) > 0
    dl = mf.read_doclens(spark, index_dir).select(
        "shard", "dl_bytes", *(["deleted"] if deletes else []))

    passes = 0
    force_full_pass = deletes  # deletes must touch every row
    while True:
        # cooperative cancel (I5): between merge passes each completed
        # pass is already manifest-committed; stopping here leaves a
        # valid (just less-merged) index
        if cancel_requested(index_dir):
            consume_cancel(index_dir)
            return {
                "status": "interrupted",
                "cancelled": True,
                "passes": passes,
                "generations": mf.live_gens(m),
            }
        gens = mf.live_gens(m)
        if not gens or (len(gens) <= 1 and not force_full_pass):
            break
        # pick the lowest fan_in generations, then expand so every touched
        # dir's generations are fully covered AND the batch stays a
        # downward-closed prefix of all live gens — last-wins is only
        # correct when no unmerged generation falls between merged ones
        batch = set(gens) if force_full_pass else set(gens[:fan_in])
        changed = True
        while changed:
            changed = False
            for e in m["segments"]:
                eg = set(e["gens"])
                if eg & batch and not eg <= batch:
                    batch |= eg
                    changed = True
        covered = [g for g in gens if g in batch]
        if covered != gens[: len(covered)]:
            batch = set(gens)
        force_full_pass = False
        next_gen = max(gens) + 1
        src = [e for e in m["segments"] if set(e["gens"]) & batch]
        keep = [e for e in m["segments"] if not (set(e["gens"]) & batch)]
        to_merge = mf.read_table(
            spark, "segments", *[os.path.join(index_dir, e["path"]) for e in src])
        merged = _merge_generation_df(
            to_merge, dl, next_gen,
            positions=bool(meta.get("positions", False)),
        )
        rel = f"seg_merged_g{next_gen}"
        merged.write.mode("overwrite").parquet(os.path.join(index_dir, rel))

        def _mut(mm, _keep=keep, _rel=rel, _gen=next_gen):
            mm["segments"] = list(_keep) + [{"path": _rel, "gens": [_gen]}]
        m = mf.update_manifest(index_dir, _mut)
        # retire consumed dirs AFTER the manifest swap; actual deletion
        # waits out $DPOSS_GC_GRACE_SEC so a reader on the old manifest
        # finishes its scan (manifest.retire_paths)
        mf.retire_paths(index_dir, [e["path"] for e in src])
        passes += 1

    if deletes:
        _vacuum_doc_stats(spark, index_dir, meta, dl)

    meta["generations"] = mf.live_gens(mf.load_manifest(index_dir))
    mf.save_meta(index_dir, meta)
    return {"passes": passes, "generations": meta["generations"]}


def _vacuum_doc_stats(spark: SparkSession, index_dir: str, meta: dict, doclens) -> None:
    """Drop the rows of the ids ``doclens`` masks from doc_stats and
    recompute N/avgdl, so BM25 idf and length normalization stop counting
    deleted docs. Survivors keep their docIDs (the doclens re-encode
    positionally with holes), and the re-encoded rows carry no masks. An
    add allocates ids above the per-shard max after the vacuum, so a
    vacuumed max slot is reused: harmless, as its mask goes in this same
    publish."""
    dead = doclens.select(F.explode("deleted").alias("doc_id"))
    m = mf.load_manifest(index_dir)
    # keep the per-row generation as a real column so the latest-version
    # pruning policy survives the vacuum collapsing the dir history
    stats = mf.read_doc_stats_with_gen(spark, index_dir)
    alive = stats.join(F.broadcast(dead), "doc_id", "left_anti")
    rel = f"doc_stats_v{int(m.get('version', 0)) + 1}"
    alive.write.mode("overwrite").parquet(os.path.join(index_dir, rel))
    # re-encode the doclen sidecar of every shard, masks cleared (holes
    # encode dl=0; no surviving posting references them)
    alive_new = mf.read_table(spark, "doc_stats", os.path.join(index_dir, rel))
    dl_rel = f"dl_vacuum_v{int(m.get('version', 0)) + 1}"
    mf.write_doclens(encode_doclens(alive_new),
                     os.path.join(index_dir, dl_rel))
    old_stats = list(m["doc_stats"])
    old_dls = list(m["doclens"])

    def _mut(mm):
        mm["doc_stats"] = [rel]
        mm["doclens"] = [dl_rel]
    mf.update_manifest(index_dir, _mut)
    mf.retire_paths(index_dir, [p for p in old_stats if p != rel])
    mf.retire_paths(index_dir, [p for p in old_dls if p != dl_rel])
    mf.refresh_corpus_stats(spark, index_dir, meta)


def _merge_generation_df(to_merge, doclens, next_gen: int,
                         positions: bool = False):
    """Decode -> last-wins merge [-> drop deleted docs] -> re-encode,
    one whole partition at a time.

    Each segment row carries its shard's doclens row (one per shard,
    broadcast-joined ahead of the range partitioning): ``dl_bytes`` to
    rebuild block_min_dl and, when ``doclens`` has the column, the
    ``deleted`` ids to drop. The broadcast hint is a sandbox-scale
    optimization; thousands-of-shards deployments drop it and join after
    the partitioning.
    """
    joined = to_merge.join(F.broadcast(doclens), "shard")

    def merge_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        docs, tfs, pos = decode_flat(pdf, positions)
        dfs = pdf["df"].to_numpy(dtype=np.int64)
        # one code per (term, shard) group, numbered in order of first
        # appearance; encode_flat renumbers them in term order
        group = pdf.groupby(["term", "shard"], sort=False).ngroup().to_numpy()
        terms = pdf["term"].to_numpy()[np.unique(group, return_index=True)[1]]
        codes = np.repeat(group, dfs)
        shards = np.repeat(pdf["shard"].to_numpy(dtype=np.int64), dfs)
        # last-wins across generations: per (group, doc) keep the posting
        # of the highest generation
        order = np.lexsort((np.repeat(pdf["gen"].to_numpy(), dfs), docs, codes))
        c, d = codes[order], docs[order]
        keep = order[np.concatenate(((c[1:] != c[:-1]) | (d[1:] != d[:-1]), [True]))]
        # one row per shard carries the shard's sidecars
        side = pdf.drop_duplicates("shard").sort_values("shard")
        if "deleted" in side.columns:
            dead = side["deleted"].dropna().tolist()
            if dead:
                dead = np.concatenate(dead).astype(np.int64)
                keep = keep[~np.isin(docs[keep], dead)]
        if keep.shape[0] == 0:
            return
        if pos is not None:
            pos = pos[gather_token_runs(keep, tfs)]
        docs, tfs, codes, shards = docs[keep], tfs[keep], codes[keep], shards[keep]
        # each shard's doclen array decoded once; a posting's dl sits at
        # its shard's start + (doc_id - shard base)
        dl_arrs = [vbyte_decode(bytes(b)).astype(np.int64) for b in side["dl_bytes"]]
        dl_start = np.cumsum([0] + [a.shape[0] for a in dl_arrs])
        row = np.searchsorted(side["shard"].to_numpy(dtype=np.int64), shards)
        dls = np.concatenate(dl_arrs)[dl_start[row] + docs - shards * SHARD_WIDTH]
        yield encode_flat((codes, terms), docs, shards, tfs, dls, gen=next_gen,
                          with_blocks=True, pos=pos)

    return term_ranges(
        joined, to_merge.sparkSession.sparkContext.defaultParallelism
    ).mapInPandas(merge_part, SEGMENT_SCHEMA)
