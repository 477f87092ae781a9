"""Incremental maintenance: delta adds as new generations, unchanged-key
skip, deletes (masked from the doclens rows at query time, dropped at
merge)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_prep_opensearch_spark.operators.bm25 import BM25Engine
from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.incremental import (
    add_documents,
    delete_documents,
)
from data_prep_opensearch_spark.operators.index_build import (
    SHARD_WIDTH,
    build_index,
    index_fingerprint,
)
from data_prep_opensearch_spark.operators.segment_merge import merge_segments
from data_prep_opensearch_spark.sources.corpus import corpus_df


def test_add_documents_generation(spark, tmp_root):
    idx = os.path.join(tmp_root, "idx_incr_add")
    full = corpus_df(spark, 260)
    base = full.limit(0).unionByName(full).filter(
        F.xxhash64("repo", "path", "commit") % 5 != 0
    )
    delta = full.filter(F.xxhash64("repo", "path", "commit") % 5 == 0)
    meta0 = build_index(spark, base, idx, n_shards=4, n_groups=1)

    out = add_documents(spark, idx, delta)
    assert out["generation"] == 1
    assert out["docs_added"] == delta.count()
    assert out["n_docs"] == 260 == meta0["n_docs"] + out["docs_added"]

    # re-adding the same delta is a no-op (key-level skip)
    again = add_documents(spark, idx, delta)
    assert again["docs_added"] == 0

    # a doc only present in the delta is retrievable
    eng = BM25Engine(spark, idx, cache=False)
    some = eng.topk("import return", 5).collect()
    assert len(some) == 5

    # merge consolidates to a single generation, preserving the logical index
    fp_before = index_fingerprint(spark, idx)
    merge_segments(spark, idx)
    assert index_fingerprint(spark, idx) == fp_before


def test_delete_documents_masked_and_purged(spark, tmp_root):
    """A delete masks its docs at once on every tier. An add that
    re-encodes the victims' shards keeps them masked. A merge with
    apply_deletes drops them from doc_stats and n_docs and clears the
    masks, and they stay out of every result."""
    idx = os.path.join(tmp_root, "idx_incr_del")
    build_index(spark, corpus_df(spark, 200), idx, n_shards=4, n_groups=1)
    eng = BM25Engine(spark, idx, cache=False)
    before = [r["doc_id"] for r in eng.topk("needle0", 10).collect()]
    assert before, "needle docs must exist"

    victims = spark.createDataFrame([(d,) for d in before], ["doc_id"])
    n = delete_documents(spark, idx, victims)
    assert n == len(before)
    assert sorted(d for r in mf.read_doclens(spark, idx).collect()
                  for d in r["deleted"] or ()) == sorted(before)

    def assert_masked():
        eng = BM25Engine(spark, idx, cache=False)
        q = "needle0 import"  # the victims rank first when unmasked
        for scorer in ("wand", "dense"):
            after = [r["doc_id"] for r in eng.topk(q, 10, scorer=scorer).collect()]
            assert after and not set(after) & set(before)
        local = eng.topk_local(q, 10, as_pandas=True)["doc_id"].tolist()
        batch = [r["doc_id"] for r in eng.topk_batch(["needle0", q], 10).collect()]
        assert local and batch and not (set(local) | set(batch)) & set(before)

    # masked immediately, on every tier
    assert_masked()

    # an add that re-encodes the victims' shards carries their masks (the
    # 240-doc corpus holds the 200 indexed docs and 40 new ones)
    assert add_documents(spark, idx, corpus_df(spark, 240))["docs_added"] == 40
    rel = mf.load_manifest(idx)["doclens"][-1]
    assert rel == "dl_delta_g1"
    added = spark.read.parquet(os.path.join(idx, rel)).collect()
    assert {d // SHARD_WIDTH for d in before} <= {r["shard"] for r in added}
    assert_masked()

    # physically purged at merge; masks cleared; still out of results
    merge_segments(spark, idx, apply_deletes=True)
    assert mf.deleted_count(idx) == 0
    ids = {r["doc_id"] for r in mf.read_doc_stats(spark, idx).select("doc_id").collect()}
    assert not ids & set(before)
    assert mf.load_meta(idx)["n_docs"] == len(ids) == 240 - len(before)
    assert_masked()
    assert eng._local_postings == {}
