"""Incremental index maintenance — the reference's core competency
(SURVEY.md §2.10) mapped to the segment index:

  - add_documents: index a DELTA corpus as a new segment generation.
    New docs get docIDs continuing each shard's dense rank; unchanged
    docs are skipped by content fingerprint (the P12-P14 anti-join).
  - delete_documents: tombstone docIDs (append-only side table); queries
    mask tombstoned docs; merge physically drops them and clears the
    tombstones (the history-suppressing MERGE of api/mysql_store.py:951-999).
  - The log-structured generation merge (segment_merge.merge_segments)
    consolidates after appends.

Everything is deterministic and resumable: adds append a lineage row per
batch; re-running an identical add is a no-op (input fingerprint match).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_prep_opensearch_spark.operators.index_build import (
    SHARD_WIDTH,
    encode_doclens,
    map_runs_and_stats,
    segments_from_runs,
)


def _load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _save_meta(index_dir: str, meta: dict) -> None:
    tmp = os.path.join(index_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, os.path.join(index_dir, "meta.json"))


def add_documents(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    """Index a delta corpus into an existing index as a new generation.

    Skip semantics: rows whose (repo, path, commit) key already exists in
    doc_stats are dropped (unchanged re-sends — the fingerprint-gated skip,
    stages/enricher/utils.py:1152-1172). A changed file arrives as a new
    commit => a new key => a new docID; readers see both until a pruning
    policy (latest_doc_ids / BM25Engine(prune='latest')) filters at query
    time.

    Commit protocol (manifest.py): the delta's segments/doclens/stats go
    to deterministic per-generation dirs (mode overwrite — a crashed add
    re-runs idempotently, no duplicate appends), published by one atomic
    manifest swap. Serialized by the per-index writer lock.
    """
    from data_prep_opensearch_spark.operators import manifest as mf
    from data_prep_opensearch_spark.operators.cancellation import (
        cancel_requested,
        consume_cancel,
    )
    from data_prep_opensearch_spark.operators.locks import index_lock

    with index_lock(index_dir, purpose="add_documents"):
        # cooperative cancel (I5): an add is ONE commit group, so entry is
        # its only safe point
        if cancel_requested(index_dir):
            consume_cancel(index_dir)
            return {"status": "interrupted", "cancelled": True,
                    "generation": None, "docs_added": 0}
        return _add_documents_locked(spark, index_dir, new_docs, mf)


def _add_documents_locked(
    spark: SparkSession, index_dir: str, new_docs: DataFrame, mf
) -> dict:
    import shutil

    meta = _load_meta(index_dir)
    n_shards = int(meta["n_shards"])
    man = mf.load_manifest(index_dir)
    if man is None:
        man = mf.adopt_legacy(spark, index_dir)

    # --- crash recovery (round-2 ADVICE, high): a prior add may have died
    # between the manifest publish and the meta.json refresh. The manifest
    # is the commit record; meta.json is a derived cache. Finish the
    # crashed commit FIRST — adopt any manifest-published generation that
    # meta lacks and refresh the global stats — and allocate this call's
    # generation ABOVE every published one. (The round-2 code derived gen
    # from stale meta, recomputed the committed gen, found `fresh` empty
    # via the anti-join, and its unconditional overwrite then truncated
    # the manifest-referenced staged/delta_gen=G dir — destroying
    # committed doc_stats. A path the manifest references is immutable.)
    published = mf.committed_gens(man)
    orphans = sorted(
        g for g in published if g > 0 and g not in meta["generations"]
    )
    if orphans:
        stats0 = mf.read_doc_stats(spark, index_dir)
        agg0 = stats0.select(
            F.count("*").alias("n"), F.avg("doclen").alias("a")
        ).collect()[0]
        meta["n_docs"] = int(agg0["n"])
        meta["avgdl"] = float(agg0["a"] or 0.0)
        meta["generations"] = sorted(set(meta["generations"]) | set(orphans))
        _save_meta(index_dir, meta)
        for g in orphans:  # posting runs a completed add would have removed
            shutil.rmtree(
                os.path.join(index_dir, "staged", f"delta_gen={g}", "kind=0"),
                ignore_errors=True,
            )
    gen = max(set(meta["generations"]) | published) + 1

    old_stats = mf.read_doc_stats(spark, index_dir)
    existing = old_stats.select("repo", "path", "commit")
    fresh = new_docs.join(existing, ["repo", "path", "commit"], "left_anti")
    if fresh.isEmpty():
        # all-skipped delta (I8 short-circuit): nothing staged, nothing
        # published, no phantom generation — and, critically, no write
        # that could touch an existing directory
        return {
            "generation": None,
            "docs_added": 0,
            "n_docs": int(meta["n_docs"]),
        }

    # per-shard NEXT docID offset = max existing offset + 1 (NOT the row
    # count: a vacuum leaves holes, and count-based allocation would hand
    # a new doc a surviving doc's id)
    offsets = {
        int(r["shard"]): int(r["m"]) - int(r["shard"]) * SHARD_WIDTH + 1
        for r in old_stats.groupBy("shard").agg(F.max("doc_id").alias("m")).collect()
    }
    offs = F.create_map(*[
        x for s in range(n_shards) for x in (F.lit(s), F.lit(offsets.get(s, 0)))
    ])
    keyed = fresh.withColumn(
        "key_hash", F.xxhash64(F.col("repo"), F.col("path"), F.col("commit"))
    ).withColumn("shard", F.pmod(F.col("key_hash"), F.lit(n_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("key_hash", "repo", "path", "commit")
    docs = keyed.withColumn(
        "doc_id",
        F.col("shard").cast("long") * F.lit(SHARD_WIDTH)
        + offs[F.col("shard")].cast("long")
        + F.row_number().over(w).cast("long") - F.lit(1),
    ).drop("key_hash").withColumn("sha256", F.sha2(F.col("content"), 256))

    t0 = time.monotonic()
    staged_dir = os.path.join(index_dir, "staged", f"delta_gen={gen}")
    # new generations inherit the index's position setting — a mixed
    # index (some generations positional, some not) would silently break
    # phrase queries after a merge
    positions = bool(meta.get("positions", False))
    map_runs_and_stats(docs, meta["tokenizer"], positions).write.partitionBy(
        "kind"
    ).mode("overwrite").parquet(staged_dir)
    run_cols = ["term", "shard", "df", "cf", "doc_bytes", "tf_bytes",
                "dl_bytes", "pos_bytes"]
    kind0 = os.path.join(staged_dir, "kind=0")
    kind1 = os.path.join(staged_dir, "kind=1")
    n_new = 0
    seg_rel = f"seg_delta_g{gen}"
    dl_rel = f"dl_delta_g{gen}"
    stats_rel = f"staged/delta_gen={gen}/kind=1"
    if os.path.exists(kind0):
        runs = spark.read.parquet(kind0).select(*run_cols)
        segments_from_runs(runs, gen=gen, positions=positions).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, seg_rel))
    has_stats = os.path.exists(kind1)
    if has_stats:
        g_stats = spark.read.parquet(kind1)
        n_new = g_stats.count()
        # doclen sidecar: re-encode ONLY the shards this delta touched,
        # over their full (old + new) stats; the manifest's ordered
        # doclens list makes the new entry override the old one per shard
        shards_touched = [
            int(r["shard"]) for r in g_stats.select("shard").distinct().collect()
        ]
        all_stats = old_stats.filter(F.col("shard").isin(shards_touched)).select(
            *g_stats.columns
        ).unionByName(g_stats)
        mf.write_doclens(encode_doclens(all_stats),
                         os.path.join(index_dir, dl_rel))

    def _mut(m):
        if os.path.exists(kind0):
            mf.add_segment_entry(m, seg_rel, [gen])
        if has_stats:
            mf.add_unique(m["doclens"], dl_rel)
            mf.add_unique(m["doc_stats"], stats_rel)
    mf.update_manifest(index_dir, _mut)
    shutil.rmtree(kind0, ignore_errors=True)

    # refresh global stats + lineage
    stats = mf.read_doc_stats(spark, index_dir)
    agg = stats.select(F.count("*").alias("n"), F.avg("doclen").alias("a")).collect()[0]
    meta["n_docs"] = int(agg["n"])
    meta["avgdl"] = float(agg["a"])
    if n_new > 0:  # an all-skipped delta must not mint a phantom generation
        meta["generations"] = sorted(set(meta["generations"]) | {gen})
    _save_meta(index_dir, meta)
    from data_prep_opensearch_spark.operators.index_build import append_lineage_row

    append_lineage_row(
        index_dir,
        ("add_documents", -1, gen, n_new, 0, 0,
         int((time.monotonic() - t0) * 1000), "complete"),
    )
    return {"generation": gen, "docs_added": n_new, "n_docs": meta["n_docs"]}


def superseded_doc_ids(spark: SparkSession, index_dir: str) -> DataFrame:
    """Query-time latest-version pruning policy (SURVEY.md §2.10; the
    reference's latest-pointer resolve, pipeline/io.py:36-76, applied per
    document key): for each (repo, path), every version OTHER than the one
    from the highest generation (ties by highest docID) is superseded.
    Returns their doc_ids. Superseded docs are masked from results exactly
    like tombstones — corpus statistics (N, avgdl, df) still count them
    until a delete+merge physically retires them; that masking semantics
    is what the paired oracle checks."""
    from data_prep_opensearch_spark.operators.manifest import read_doc_stats_with_gen

    stats = read_doc_stats_with_gen(spark, index_dir)
    w = Window.partitionBy("repo", "path").orderBy(
        F.desc("_gen"), F.desc("doc_id")
    )
    return (
        stats.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("doc_id")
    )


def delete_documents(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> int:
    """Tombstone docIDs (column ``doc_id``). Queries mask them immediately;
    merge_segments with apply_deletes=True drops them physically."""
    tomb_dir = os.path.join(index_dir, "tombstones")
    rows = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    rows.write.mode("append").parquet(tomb_dir)
    return rows.count()


def load_tombstones(spark: SparkSession, index_dir: str) -> dict[int, np.ndarray]:
    """{shard: sorted int64 docIDs} — empty dict if none.

    DRIVER-SIDED by design: a small-scale diagnostic/test helper. The
    engine and merge paths use ``masked_doc_ids_per_shard`` (a per-shard
    DataFrame joined by shard) so masked ids never funnel through the
    driver — at 10^12 docs the tombstone set alone can be GBs."""
    tomb_dir = os.path.join(index_dir, "tombstones")
    if not os.path.exists(tomb_dir):
        return {}
    pdf = spark.read.parquet(tomb_dir).toPandas()
    if pdf.empty:
        return {}
    ids = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64))
    out: dict[int, np.ndarray] = {}
    for shard, grp in pd.Series(ids).groupby(ids // SHARD_WIDTH):
        out[int(shard)] = grp.to_numpy(dtype=np.int64)
    return out


def masked_doc_ids_per_shard(
    spark: SparkSession, index_dir: str, include_superseded: bool = False
) -> DataFrame | None:
    """Distributed masked-id sidecar: one row per shard with a SORTED
    distinct ``deleted: array<long>`` of docIDs to mask (tombstones,
    plus superseded versions when ``include_superseded``). Returns None
    when no masking source exists.

    This is the scale path the round-2 review asked for: the id set is
    grouped per shard WORKER-side and joined onto the segment rows by
    shard — it never transits the driver, so thousands of shards with
    large tombstone sets cost one shuffle, not driver memory."""
    parts: list[DataFrame] = []
    tomb_dir = os.path.join(index_dir, "tombstones")
    if os.path.exists(tomb_dir):
        parts.append(
            spark.read.parquet(tomb_dir).select(F.col("doc_id").cast("long"))
        )
    if include_superseded:
        parts.append(
            superseded_doc_ids(spark, index_dir).select(
                F.col("doc_id").cast("long")
            )
        )
    if not parts:
        return None
    ids = parts[0]
    for p in parts[1:]:
        ids = ids.unionByName(p)
    return (
        ids.withColumn("shard", F.shiftright("doc_id", SHARD_WIDTH.bit_length() - 1).cast("int"))
        .groupBy("shard")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("deleted"))
    )
