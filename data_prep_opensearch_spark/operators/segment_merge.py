"""Log-structured segment merge (SURVEY.md §7.1 M3).

Incremental builds append new generations of (term, shard) posting runs;
this job consolidates them k-way per pass until one generation remains —
the tree-reduce shape of the reference's chunk-summary fan-in
(stages/enricher/vision.py:469-512), applied to postings.

Merging a (term, shard) group is a concat-of-sorted-runs with last-wins
dedup on docID (MERGE upsert semantics) — never a global re-sort, because
every run is already docID-sorted and the shard bounds group size.
Idempotency: the merged index's logical fingerprint equals the input's
(verified by tests), so re-running a merge is a no-op semantically.

Commit protocol: every pass writes a NEW immutable segment dir and
publishes it by atomically rewriting manifest.json (manifest.py) — no
directory renames, object-store safe. The dirs a pass consumed are GC'd
after the publish. ``apply_deletes`` additionally VACUUMS doc_stats
(tombstoned rows dropped, N/avgdl recomputed into meta) so post-delete
BM25 *scores*, not just retrieval, match a fresh build of the survivors.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession, functions as F

from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.index_build import SEGMENT_SCHEMA, SHARD_WIDTH
from data_prep_opensearch_spark.operators.locks import index_lock
from data_prep_opensearch_spark.operators.postings import (
    decode_positions,
    decode_posting_list,
    encode_positions,
    encode_posting_list,
    gather_token_runs,
    merge_posting_runs,
    merge_posting_runs_with_pos,
    vbyte_decode,
)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    fan_in: int = 8,
    apply_deletes: bool = False,
) -> dict:
    """Merge generations until one remains, ``fan_in`` generations per pass.

    With ``apply_deletes``, tombstoned docIDs are physically dropped from
    the merged postings, the tombstone table is cleared, and doc_stats is
    vacuumed (the history-suppressing MERGE of api/mysql_store.py:951-999).
    """
    with index_lock(index_dir, purpose="merge_segments"):
        return _merge_locked(spark, index_dir, fan_in, apply_deletes)


def _merge_locked(
    spark: SparkSession, index_dir: str, fan_in: int, apply_deletes: bool
) -> dict:
    meta_path = os.path.join(index_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    m = mf.load_manifest(index_dir) or mf.adopt_legacy(spark, index_dir)

    dl = mf.read_doclens(spark, index_dir).select("shard", "dl_bytes")

    # masked ids as a per-shard DataFrame joined by shard (never a
    # driver-side dict: at 10^12 docs the tombstone set alone can be GBs
    # — same discipline as BM25Engine's sidecar)
    masked = None
    if apply_deletes:
        from data_prep_opensearch_spark.operators.incremental import (
            masked_doc_ids_per_shard,
        )

        masked = masked_doc_ids_per_shard(spark, index_dir)
        if masked is not None and masked.isEmpty():
            masked = None

    from data_prep_opensearch_spark.operators.cancellation import (
        cancel_requested,
        consume_cancel,
    )

    passes = 0
    force_full_pass = masked is not None  # deletes must touch every row
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
        to_merge = spark.read.parquet(
            *[os.path.join(index_dir, e["path"]) for e in src]
        )
        merged = _merge_generation_df(
            to_merge, dl, next_gen, masked,
            positions=bool(meta.get("positions", False)),
        )
        masked = None  # applied in the (full) first pass
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

    if apply_deletes:
        _vacuum_doc_stats(spark, index_dir, meta)
        tomb_dir = os.path.join(index_dir, "tombstones")
        if os.path.exists(tomb_dir):
            shutil.rmtree(tomb_dir)

    m = mf.load_manifest(index_dir)
    meta["generations"] = mf.live_gens(m)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(meta_path + ".tmp", meta_path)
    return {"passes": passes, "generations": meta["generations"]}


def _vacuum_doc_stats(spark: SparkSession, index_dir: str, meta: dict) -> None:
    """Drop tombstoned rows from doc_stats and recompute N/avgdl, so BM25
    idf and length normalization stop counting deleted docs (round-1 score
    drift; VERDICT 'What's wrong' #6). docIDs of survivors are UNCHANGED —
    the doclen sidecar re-encodes positionally with holes (encode_doclens
    scatter path), and add_documents allocates fresh ids above the
    per-shard max, never reusing a vacuumed slot."""
    tomb_dir = os.path.join(index_dir, "tombstones")
    if not os.path.exists(tomb_dir):
        return
    tombs = spark.read.parquet(tomb_dir).select("doc_id").distinct()
    if tombs.count() == 0:
        return
    m = mf.load_manifest(index_dir)
    # keep the per-row generation as a real column so the latest-version
    # pruning policy survives the vacuum collapsing the dir history
    stats = mf.read_doc_stats_with_gen(spark, index_dir)
    alive = stats.join(F.broadcast(tombs), "doc_id", "left_anti")
    rel = f"doc_stats_v{int(m.get('version', 0)) + 1}"
    alive.write.mode("overwrite").parquet(os.path.join(index_dir, rel))
    # re-encode the doclen sidecar for every shard that lost docs (holes
    # encode dl=0; no surviving posting references them)
    alive_new = spark.read.parquet(os.path.join(index_dir, rel))
    from data_prep_opensearch_spark.operators.index_build import encode_doclens

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
    agg = alive_new.select(
        F.count("*").alias("n"), F.avg("doclen").alias("a")
    ).collect()[0]
    meta["n_docs"] = int(agg["n"])
    meta["avgdl"] = float(agg["a"] or 0.0)


def _merge_generation_df(to_merge, doclens, next_gen: int, masked=None,
                         positions: bool = False):
    """Decode -> last-wins merge [-> drop tombstoned docs] -> re-encode
    each (term, shard) group.

    Needs per-shard doclens to rebuild block_min_dl for merged blocks, so
    the doclen sidecar is joined in by shard; the masked-id sidecar (when
    deletes apply) rides the same join — both are one row per shard, so
    the shuffle the repartition below already pays covers them. The
    broadcast hint is a sandbox-scale optimization, not a correctness
    dependency; thousands-of-shards deployments drop it and the join
    co-partitions with the repartition.
    """
    joined = to_merge.join(F.broadcast(doclens), "shard")
    if masked is not None:
        joined = joined.join(F.broadcast(masked), "shard", "left")

    def merge_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        has_masked = "deleted" in pdf.columns
        rows = []
        for (term, shard), grp in pdf.groupby(["term", "shard"], sort=False):
            base = int(shard) * SHARD_WIDTH
            runs = []
            for row in grp.sort_values("gen").itertuples(index=False):
                d_r, t_r = decode_posting_list(
                    bytes(row.doc_bytes), bytes(row.tf_bytes), base=base
                )
                if positions:
                    p_r = decode_positions(bytes(row.pos_bytes), t_r)
                    runs.append((d_r, t_r, p_r))
                else:
                    runs.append((d_r, t_r))
            if positions:
                docs, tfs, pos = merge_posting_runs_with_pos(runs)
            else:
                docs, tfs = merge_posting_runs(runs)
                pos = None
            if has_masked:
                dval = grp.iloc[0]["deleted"]
                if dval is not None and not (
                    isinstance(dval, float) and pd.isna(dval)
                ):
                    dead = np.asarray(dval, dtype=np.int64)
                    if dead.size:
                        alive = ~np.isin(docs, dead, assume_unique=False)
                        if pos is not None:
                            pos = pos[gather_token_runs(
                                np.flatnonzero(alive), tfs
                            )]
                        docs, tfs = docs[alive], tfs[alive]
            if docs.shape[0] == 0:
                continue
            dl_arr = vbyte_decode(bytes(grp.iloc[0].dl_bytes)).astype(np.int64)
            dls = dl_arr[docs - base]
            doc_b, tf_b, blk = encode_posting_list(docs, tfs, dls, base=base)
            pos_b = encode_positions(pos, tfs) if pos is not None else None
            rows.append((
                term, int(shard), next_gen, int(docs.shape[0]), int(tfs.sum()),
                doc_b, tf_b, pos_b,
                blk.first.tolist(), blk.last.tolist(),
                blk.max_tf.tolist(), blk.min_dl.tolist(),
                blk.doc_off.tolist(), blk.tf_off.tolist(),
            ))
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])

    spark = to_merge.sparkSession
    return joined.repartition(
        spark.sparkContext.defaultParallelism, "term", "shard"
    ).mapInPandas(merge_part, SEGMENT_SCHEMA)
