"""Incremental index maintenance — the reference's core competency
(SURVEY.md §2.10) mapped to the segment index:

  - add_documents: index a DELTA corpus as a new segment generation.
    New docs get docIDs continuing each shard's dense rank; unchanged
    docs are skipped by key (the P12-P14 anti-join). The generation is
    committed by ``index_build.commit_generation``, the same write path a
    build group takes.
  - delete_documents: one manifest commit under the writer lock that
    unions the docIDs into the ``deleted`` mask of each touched shard's
    doclens row; queries mask them from that row, and
    merge_segments(apply_deletes=True) drops them physically and clears
    the masks in the same publish (the history-suppressing MERGE of
    api/mysql_store.py:951-999).
  - The log-structured generation merge (segment_merge.merge_segments)
    consolidates after appends.

Everything is deterministic and resumable: adds append a lineage row per
batch; re-running an identical add is a no-op (every key already indexed).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.cancellation import cancel_requested, consume_cancel
from data_prep_opensearch_spark.operators.index_build import (
    SHARD_WIDTH,
    assign_doc_ids,
    commit_generation,
)
from data_prep_opensearch_spark.operators.locks import index_lock


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

    Commit protocol (``commit_generation``, manifest.py): the delta's
    segments/doclens/stats go to deterministic per-generation dirs (mode
    overwrite — a crashed add re-runs idempotently, no duplicate appends),
    published by one atomic manifest swap; meta.json is refreshed after.
    Serialized by the per-index writer lock.
    """
    with index_lock(index_dir, purpose="add_documents"):
        # cooperative cancel (I5): an add is ONE commit group, so entry is
        # its only safe point
        if cancel_requested(index_dir):
            consume_cancel(index_dir)
            return {"status": "interrupted", "cancelled": True,
                    "generation": None, "docs_added": 0}
        return _add_documents_locked(spark, index_dir, new_docs)


def _add_documents_locked(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    meta = mf.load_meta(index_dir)
    n_shards = int(meta["n_shards"])
    man = mf.load_manifest(index_dir) or mf.adopt_legacy(spark, index_dir)

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
        mf.refresh_corpus_stats(spark, index_dir, meta)
        meta["generations"] = sorted(set(meta["generations"]) | set(orphans))
        mf.save_meta(index_dir, meta)
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

    # per-shard NEXT docID offset = the slots the shard's doclens row
    # allocates, max offset + 1 (NOT the doc count: a vacuum leaves holes,
    # and count-based allocation would hand a new doc a surviving doc's id)
    docs = assign_doc_ids(fresh, n_shards, mf.allocated_slots(index_dir)).withColumn(
        "sha256", F.sha2(F.col("content"), 256))

    # new generations inherit the index's position setting — a mixed
    # index (some generations positional, some not) would silently break
    # phrase queries after a merge
    n_new = commit_generation(
        spark, index_dir, docs,
        (f"staged/delta_gen={gen}", f"seg_delta_g{gen}", f"dl_delta_g{gen}"),
        ("add_documents", -1, gen), meta["tokenizer"],
        bool(meta.get("positions", False)), old_stats=old_stats,
    )["n_docs"]

    mf.refresh_corpus_stats(spark, index_dir, meta)
    if n_new > 0:  # an all-skipped delta must not mint a phantom generation
        meta["generations"] = sorted(set(meta["generations"]) | {gen})
    mf.save_meta(index_dir, meta)
    return {"generation": gen, "docs_added": n_new, "n_docs": meta["n_docs"]}


def superseded_doc_ids(spark: SparkSession, index_dir: str) -> DataFrame:
    """Query-time latest-version pruning policy (SURVEY.md §2.10; the
    reference's latest-pointer resolve, pipeline/io.py:36-76, applied per
    document key): for each (repo, path), every version OTHER than the one
    from the highest generation (ties by highest docID) is superseded.
    Returns their (shard, doc_id). Superseded docs are masked from results exactly
    like deleted ones — corpus statistics (N, avgdl, df) still count them
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
        .select("shard", "doc_id")
    )


def delete_documents(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> int:
    """Delete docIDs (column ``doc_id``) in one manifest commit under the
    writer lock: the ids are unioned into the sorted ``deleted`` of each
    touched shard's doclens row, published like an add's doclens. The
    dir is named by the next manifest version, so a re-run after a crash
    before the publish rewrites the same dir. Returns the number of
    distinct ids, counted during the write (0 commits nothing). An id
    whose shard has no doclens row, or at or above the slots its shard
    allocates (``manifest.allocated_slots``: the next add would hand it
    to a new doc), raises a ValueError and commits nothing."""
    with index_lock(index_dir, purpose="delete_documents"):
        m = mf.load_manifest(index_dir) or mf.adopt_legacy(spark, index_dir)
        end = F.create_map(*[x for s, n in mf.allocated_slots(index_dir).items()
                             for x in (F.lit(s), F.lit(s * SHARD_WIDTH + n))])
        new = doc_ids.select(F.col("doc_id").cast("long")).groupBy(F.shiftright(
            "doc_id", SHARD_WIDTH.bit_length() - 1).cast("int").alias("shard")
        ).agg(F.collect_set("doc_id").alias("new"))
        obs = Observation("delete_documents")
        rows = new.join(mf.read_doclens(spark, index_dir), "shard", "left").observe(
            obs, F.sum(F.size("new")).alias("n"),
            F.collect_set(F.when(F.col("base").isNull(), F.col("shard"))).alias("orphans"),
            F.flatten(F.collect_list(F.filter(
                "new", lambda x: x >= end[F.col("shard")]))).alias("unallocated"),
        ).select("shard", "base", "n_docs", "dl_bytes", F.array_sort(F.array_union(
            F.coalesce("deleted", F.array().cast("array<long>")), "new")).alias("deleted"))
        rel = f"dl_delete_v{int(m['version']) + 1}"
        path = os.path.join(index_dir, rel)
        mf.write_doclens(rows, path)
        got = obs.get
        n, orphans, unallocated = (int(got["n"] or 0), sorted(got["orphans"]),
                                   sorted(got["unallocated"] or ()))
        if orphans or unallocated or not n:
            shutil.rmtree(path)
        if orphans:
            raise ValueError(f"delete_documents: shard(s) {orphans} of {index_dir} "
                             "have no doclens row; nothing was deleted")
        if unallocated:
            raise ValueError(f"delete_documents: doc id(s) {unallocated[:10]} of "
                             f"{index_dir} are not allocated yet; nothing was deleted")
        if n:
            mf.update_manifest(index_dir, lambda mm: mf.add_doclens(mm, index_dir, rel))
            mf.gc_retired(index_dir)
        return n


def with_superseded(spark: SparkSession, index_dir: str, sidecar: DataFrame) -> DataFrame:
    """``sidecar`` (doclens rows) with each shard's superseded versions
    unioned into its ``deleted``: the ``prune_superseded=True`` mask,
    grouped per shard worker-side."""
    sup = superseded_doc_ids(spark, index_dir).groupBy("shard").agg(
        F.collect_set("doc_id").alias("sup"))
    none = F.array().cast("array<long>")
    return sidecar.join(sup, "shard", "left").withColumn(
        "deleted", F.array_sort(F.array_union(
            F.coalesce("deleted", none), F.coalesce("sup", none)))
    ).drop("sup")
