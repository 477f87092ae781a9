"""Round-3 crash-window regression gates (round-2 ADVICE items).

Each test simulates a crash at the exact point the advisor identified,
then re-runs and asserts (a) no committed data is destroyed, (b) the
re-run converges to the same logical index a crash-free run produces.

1. add_documents dying between the manifest publish and the meta.json
   refresh must NOT let the re-run truncate the manifest-referenced
   staged/delta_gen=G dir (round-2 behavior: stale meta recomputed the
   same gen, the anti-join emptied `fresh`, and mode("overwrite")
   deleted committed doc_stats).
2. build_index dying between a group's manifest publish and its lineage
   row must NOT rewrite the manifest-referenced staged/group=g/kind=1
   in place on resume.
3. index_lock losing a stale-takeover re-acquire race must raise
   IndexLockHeld, not rmtree the winner's fresh lock.
4. delete_documents dying between its doclens write and the manifest
   publish must leave the index answering as before the delete, and
   its re-run must answer as a crash-free delete does.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_prep_opensearch_spark.operators import incremental as incr
from data_prep_opensearch_spark.operators import index_build as ib
from data_prep_opensearch_spark.operators import locks as locks_mod
from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.bm25 import BM25Engine
from data_prep_opensearch_spark.operators.index_build import (
    build_index,
    index_fingerprint,
)
from data_prep_opensearch_spark.operators.locks import IndexLockHeld, index_lock
from data_prep_opensearch_spark.operators.manifest import read_doc_stats
from data_prep_opensearch_spark.sources.corpus import corpus_df


def test_add_documents_crash_between_manifest_and_meta(spark, tmp_root, monkeypatch):
    idx = os.path.join(tmp_root, "idx_crash_add")
    full = corpus_df(spark, 240)
    base = full.filter(F.xxhash64("repo", "path", "commit") % 4 != 0)
    delta = full.filter(F.xxhash64("repo", "path", "commit") % 4 == 0)
    build_index(spark, base, idx, n_shards=4, n_groups=1)
    n_base = read_doc_stats(spark, idx).count()
    n_delta = delta.count()

    real_save = mf.save_meta
    calls = {"n": 0}

    def crashing_save(index_dir, meta):
        calls["n"] += 1
        raise RuntimeError("simulated crash after manifest publish")

    monkeypatch.setattr(mf, "save_meta", crashing_save)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incr.add_documents(spark, idx, delta)
    assert calls["n"] == 1
    monkeypatch.setattr(mf, "save_meta", real_save)

    # the commit IS published (manifest references delta stats) but meta
    # is stale — the exact round-2 corruption window
    stats_dir = os.path.join(idx, "staged", "delta_gen=1", "kind=1")
    assert os.path.exists(stats_dir)
    with open(os.path.join(idx, "meta.json")) as f:
        assert 1 not in json.load(f)["generations"]

    # re-run with the SAME delta: must repair meta, add nothing, and
    # leave every committed directory intact
    out = incr.add_documents(spark, idx, delta)
    assert out["docs_added"] == 0
    assert os.path.exists(stats_dir), "manifest-referenced dir was destroyed"
    assert read_doc_stats(spark, idx).count() == n_base + n_delta
    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    assert 1 in meta["generations"]
    assert meta["n_docs"] == n_base + n_delta

    # delta docs retrievable; a FURTHER genuine delta gets a fresh gen
    eng = BM25Engine(spark, idx, cache=False)
    assert len(eng.topk("import return", 5).collect()) == 5


def test_delete_documents_crash_before_manifest_publish(spark, tmp_root, monkeypatch):
    idx = os.path.join(tmp_root, "idx_crash_delete")
    ref = os.path.join(tmp_root, "idx_crash_delete_ref")
    build_index(spark, corpus_df(spark, 200), idx, n_shards=4, n_groups=1)
    shutil.copytree(idx, ref)
    queries = ("needle0 import", "import def", "sym1 fn3 return")

    def answers(d):
        eng = BM25Engine(spark, d, cache=False)
        return {q: [(r["doc_id"], round(r["score"], 12))
                    for r in eng.topk(q, 10).collect()] for q in queries}

    before = answers(idx)
    victims = sorted({d for q in queries for d, _ in before[q][:3]})
    frame = spark.createDataFrame([(d,) for d in victims], "doc_id long")

    def crashing_update(index_dir, mutate):
        raise RuntimeError("simulated crash before the manifest publish")

    monkeypatch.setattr(mf, "update_manifest", crashing_update)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incr.delete_documents(spark, idx, frame)
    monkeypatch.undo()
    # the doclens rows were written but never published
    assert any(p.startswith("dl_delete_v") for p in os.listdir(idx))
    assert not any(p.startswith("dl_delete_v")
                   for p in mf.load_manifest(idx)["doclens"])
    assert answers(idx) == before

    # the re-run commits what a crash-free delete commits
    assert incr.delete_documents(spark, idx, frame) == len(victims)
    assert incr.delete_documents(spark, ref, frame) == len(victims)
    after = answers(idx)
    assert after == answers(ref) != before
    assert not {d for q in queries for d, _ in after[q]} & set(victims)


def test_build_index_group_crash_between_manifest_and_lineage(spark, tmp_root, monkeypatch):
    src = corpus_df(spark, 260)
    idx = os.path.join(tmp_root, "idx_crash_group")
    idx_ref = os.path.join(tmp_root, "idx_crash_group_ref")

    real_lineage = ib.append_lineage_row
    state = {"crashed": False}

    def crashing_lineage(index_dir, row):
        if row[0] == "postings" and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash before lineage row")
        return real_lineage(index_dir, row)

    monkeypatch.setattr(ib, "append_lineage_row", crashing_lineage)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, src, idx, n_shards=4, n_groups=2)
    monkeypatch.setattr(ib, "append_lineage_row", real_lineage)

    # group 0's data is committed in the manifest but has no lineage row
    kind1 = os.path.join(idx, "staged", "group=0", "kind=1")
    assert os.path.exists(kind1)
    mtimes_before = {
        f: os.stat(os.path.join(kind1, f)).st_mtime_ns
        for f in os.listdir(kind1)
        if f.endswith(".parquet")
    }

    meta = build_index(spark, src, idx, n_shards=4, n_groups=2, resume=True)
    assert meta["status"] == "complete"
    assert meta["n_docs"] == 260

    # the manifest-referenced stats dir was NOT rewritten in place
    mtimes_after = {
        f: os.stat(os.path.join(kind1, f)).st_mtime_ns
        for f in os.listdir(kind1)
        if f.endswith(".parquet")
    }
    assert mtimes_after == mtimes_before, "committed group dir was rewritten"

    # logical index identical to a crash-free build
    build_index(spark, src, idx_ref, n_shards=4, n_groups=2)
    assert index_fingerprint(spark, idx) == index_fingerprint(spark, idx_ref)


def test_lock_live_holder_not_stolen_under_deadline(tmp_root):
    d = os.path.join(tmp_root, "lock_live")
    os.makedirs(os.path.join(d, ".lock"))
    with open(os.path.join(d, ".lock", "status.json"), "w") as f:
        json.dump({"pid": os.getpid(), "purpose": "long_build"}, f)
    # live holder, fresh lock: must NOT be stolen even by a caller that
    # passes a small deadline-free default
    with pytest.raises(IndexLockHeld):
        with index_lock(d):
            pass
    # live holder PAST the deadline: taken over (reference 24h semantics)
    with index_lock(d, stale_after_sec=0):
        pass


def test_lock_takeover_race_loser_raises(tmp_root, monkeypatch):
    d = os.path.join(tmp_root, "lock_race")
    lock_dir = os.path.join(d, ".lock")
    os.makedirs(lock_dir)
    with open(os.path.join(lock_dir, "status.json"), "w") as f:
        json.dump({"pid": 2**22 + 12345, "purpose": "dead_writer"}, f)

    real_rmtree = locks_mod.shutil.rmtree

    def racing_rmtree(path, ignore_errors=False):
        # simulate another process winning the re-acquire race: the stale
        # dir vanishes and a FRESH live-holder lock appears immediately
        real_rmtree(path, ignore_errors=ignore_errors)
        os.makedirs(lock_dir)
        with open(os.path.join(lock_dir, "status.json"), "w") as f:
            json.dump({"pid": os.getpid(), "purpose": "race_winner"}, f)

    monkeypatch.setattr(locks_mod.shutil, "rmtree", racing_rmtree)
    with pytest.raises(IndexLockHeld, match="race_winner"):
        with index_lock(d):
            pass
    monkeypatch.setattr(locks_mod.shutil, "rmtree", real_rmtree)
    # the winner's lock survives intact
    assert os.path.exists(os.path.join(lock_dir, "status.json"))
    with open(os.path.join(lock_dir, "status.json")) as f:
        assert json.load(f)["purpose"] == "race_winner"
