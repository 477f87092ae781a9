"""The engine's driver-side segment reads (``resolve_df``, the prefix,
fuzzy and wildcard expansions, the local tier's posting fetch) against
the Spark aggregates they replace and ``oracle.py``'s expansion rules,
their Spark job counts (and the engine query's), and their behaviour
when a concurrent merge retires the files they read.

Indexes: a clean base build; the base plus a delta generation and a
delete; the same base in the legacy layout (no manifest, a
``segments/`` dir); the delta index after
``merge_segments(apply_deletes=True)``; and the delta index opened with
``cache=False``.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil

import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st
from py4j import protocol as proto
from pyspark.sql import functions as F

from data_prep_opensearch_spark.operators import manifest as mf
from data_prep_opensearch_spark.operators.bm25 import (
    BM25Engine,
    Fuzzy,
    Wildcard,
    sql_string,
    term_point_filter,
)
from data_prep_opensearch_spark.operators.incremental import (
    add_documents,
    delete_documents,
)
from data_prep_opensearch_spark.operators.index_build import (
    build_index,
    sort_segments,
)
from data_prep_opensearch_spark.operators.segment_merge import merge_segments
from data_prep_opensearch_spark.oracle import _expand_fuzzy, _expand_wild
from data_prep_opensearch_spark.session import sql_conf
from data_prep_opensearch_spark.sources.corpus import corpus_df

N = 240
TERMS = ["import", "def", "needle0", "needle3", "sym1", "fn3", "return",
         "zzz_absent"]
STEMS = ["sym", "fn", "needle", "re", "zzq"]  # "zzq" matches nothing
QUERIES = ["import def", "needle0 import", "sym1 fn3 return", "import -def",
           '"import def" return', "sym* fn3", "fn1* -import"]


def _copy_legacy(src: str, dst: str) -> None:
    """``src`` (a one-dir manifest index) in the legacy flat layout."""
    m = mf.load_manifest(src)
    (seg,), (dl,), (st,) = ([e["path"] for e in m["segments"]],
                            m["doclens"], m["doc_stats"])
    for rel, name in ((seg, "segments"), (dl, "doclens"), (st, "doc_stats")):
        shutil.copytree(os.path.join(src, rel), os.path.join(dst, name))
    shutil.copy(os.path.join(src, "meta.json"), dst)


@pytest.fixture(scope="module")
def indexes(spark, tmp_root):
    root = os.path.join(tmp_root, "driver_reads")
    base, legacy = os.path.join(root, "base"), os.path.join(root, "legacy")
    delta, merged = os.path.join(root, "delta"), os.path.join(root, "merged")
    full = corpus_df(spark, N)
    key = F.xxhash64("repo", "path", "commit") % 4
    build_index(spark, full.filter(key != 0), base, n_shards=4, n_groups=1)
    sort_segments(spark, base, n_files=2)
    os.makedirs(legacy)
    _copy_legacy(base, legacy)
    shutil.copytree(base, delta)
    assert add_documents(spark, delta, full.filter(key == 0))["docs_added"]
    stats = mf.read_doc_stats(spark, delta)
    assert delete_documents(
        spark, delta, stats.filter(F.col("doc_id") % 7 == 0).select("doc_id"))
    assert len(mf.load_manifest(delta)["segments"]) == 2
    shutil.copytree(delta, merged)
    merge_segments(spark, merged, apply_deletes=True)
    return {"base": (base, True), "delta": (delta, True), "legacy": (legacy, True),
            "merged": (merged, True), "uncached": (delta, False)}


@pytest.fixture(scope="module", params=["delta", "legacy", "merged", "uncached"])
def engine(request, spark, indexes):
    idx, cache = indexes[request.param]
    eng = BM25Engine(spark, idx, cache=cache)
    yield idx, eng
    eng.unpersist()


def _spark_dfs(spark, idx):
    return (mf.read_segments(spark, idx).groupBy("term")
            .agg(F.sum("df").alias("df")))


def test_resolve_df_matches_spark_aggregate(spark, engine):
    idx, eng = engine
    want = {r["term"]: int(r["df"]) for r in _spark_dfs(spark, idx)
            .filter(F.col("term").isin(TERMS)).collect()}
    got = eng.resolve_df(TERMS)
    assert got == {t: want.get(t, 0) for t in TERMS}
    assert got["zzz_absent"] == 0 and got["import"] > 0


def test_expand_prefix_matches_spark_aggregate(spark, engine):
    idx, eng = engine
    dfs = _spark_dfs(spark, idx)
    tied_cuts = 0
    for stem in STEMS:
        ranked = [(r["term"], int(r["df"])) for r in dfs.filter(
            F.col("term").startswith(stem)).orderBy(
            F.desc("df"), F.asc("term")).collect()]
        assert eng.expand_prefix(stem, 10_000) == ranked
        if not ranked:
            assert stem == "zzq"
        # a cap that cuts between two tied dfs keeps the lexicographically
        # first terms, as the Spark order does (the first few such cuts)
        ties = [c for c in range(1, len(ranked))
                if ranked[c - 1][1] == ranked[c][1]][:4]
        for cap in ties:
            assert eng.expand_prefix(stem, cap) == ranked[:cap], (stem, cap)
        tied_cuts += len(ties)
    assert tied_cuts
    assert eng.expand_prefix("sym") == eng.expand_prefix("sym", 10_000)[:50]


@pytest.mark.parametrize("name", ["base", "delta"])
def test_fuzzy_and_wildcard_expansions_match_oracle_rules(spark, indexes, name):
    """The driver-side fuzzy and wildcard/regexp expansions give the
    lists ``oracle.py``'s rules give over the Spark aggregate of the
    dictionary: on the delta index, df summed across generations and
    the shards of both."""
    idx, _ = indexes[name]
    dic = {r["term"]: (int(r["df"]), frozenset(r["shards"])) for r in
           mf.read_segments(spark, idx).groupBy("term").agg(
               F.sum("df").alias("df"),
               F.collect_set("shard").alias("shards")).collect()}
    dfs = {t: df for t, (df, _) in dic.items()}
    eng = BM25Engine(spark, idx, cache=False)
    # closer expansions rank first whatever their df (fn99, sym7), and
    # caps cut inside a distance band (sym30~2) and inside one df order
    for stem, k, cap in (("retrn", 1, 50), ("imprt", 2, 50), ("sym12", 1, 50),
                         ("fn", 1, 3), ("needle", 2, 50), ("fn99", 1, 50),
                         ("sym7", 1, 5), ("sym30", 2, 50), ("self", 2, 50)):
        want = _expand_fuzzy(dfs, Fuzzy(stem, k), cap)
        assert want, stem
        assert eng._expansions(Fuzzy(stem, k), cap) == want, stem
        assert [(t, d) for t, d, _ in eng.expand_fuzzy(stem, k, cap)] == \
            [(t, dfs[t]) for t, _ in want]
    for pattern, kind, cap in (("*port", "wild", 50), ("fn?2", "wild", 50),
                               ("s?m*", "wild", 7), ("(sym|fn)1[0-9]", "re", 50),
                               ("needle[0-9]+", "re", 50), ("zz*q", "wild", 50)):
        want = _expand_wild(dfs, Wildcard(pattern, kind), cap)
        assert bool(want) == (pattern != "zz*q"), pattern
        assert eng.expand_wildcard(pattern, kind, cap) == \
            [(t, dfs[t]) for t in want], pattern
    # the expansions seed each term's df and shard set
    assert eng._df_cache and all(dic[t] == v for t, v in eng._df_cache.items())


def test_posting_fetch_matches_spark_rows(spark, engine):
    idx, eng = engine
    cols = ["term", "shard", "gen", "df", "doc_bytes", "tf_bytes", "pos_bytes"]
    want = sorted(tuple(r) for r in mf.read_segments(spark, idx).filter(
        F.col("term").isin(TERMS)).select(*cols).collect())
    got = sorted(tuple(r.values()) for r in eng._segments.read(
        term_point_filter(TERMS), cols).to_pylist())
    assert got == want and got


def test_topk_local_equals_topk(engine):
    _, eng = engine
    for q in QUERIES:
        want = [(r["doc_id"], round(r["score"], 12))
                for r in eng.topk(q, 10).collect()]
        got = [(int(r.doc_id), round(float(r.score), 12))
               for r in eng.topk_local(q, 10, as_pandas=True).itertuples()]
        assert got == want and got, q


_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through its job group."""
    sc = spark.sparkContext
    group = f"driver-reads-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_lookups_run_no_spark_job(spark, indexes):
    idx, _ = indexes["delta"]
    eng = BM25Engine(spark, idx, cache=True)
    try:
        eng.topk_local("import", 10, as_pandas=True)  # loads every sidecar
        assert len(eng._local_side) == eng.meta["n_shards"]
        assert _jobs(spark, lambda: eng.resolve_df(["needle2", "fn7", "zz"])) == 0
        assert _jobs(spark, lambda: eng.expand_prefix("sym")) == 0
        # every expansion is a driver read, the whole-dictionary ones too
        assert _jobs(spark, lambda: eng.expand_fuzzy("retrn", 1)) == 0
        for pattern, kind in (("*port", "wild"), ("fn?2", "wild"),
                              ("(sym|fn)1[0-9]", "re")):
            assert _jobs(spark, lambda: eng.expand_wildcard(pattern, kind)) == 0
        for q in ("needle1", "return -needle2", '"def return"', "fn*",
                  "imprt~1 def", "s?m1* -fn3"):
            assert _jobs(spark, lambda: eng.topk_local(q, 10, as_pandas=True)) == 0, q
        # explain keeps its one sidecar collect on Spark
        doc = int(eng.topk_local("class", 1, as_pandas=True)["doc_id"][0])
        assert _jobs(spark, lambda: eng.explain('class "self return"', doc)) == 1
    finally:
        eng.unpersist()


def test_cold_topk_resolves_df_on_the_driver(spark, indexes):
    """An uncached engine's ``topk`` resolves global df with the driver
    point read too, so no df aggregate and no broadcast of it join the
    query plan, and the sidecar rows are unioned in rather than joined.
    The doclens override across the doclens dirs is resolved on the
    driver from their shard columns, so no window joins the plan either,
    and the deleted ids ride in the doclens rows, so no aggregate or
    broadcast of them does: on the delta index every query shape runs
    the same 2 Spark jobs — the ``repartition(shard)`` exchange and the
    scoring stage."""
    idx, _ = indexes["uncached"]
    eng = BM25Engine(spark, idx, cache=False)
    for q in QUERIES:
        assert _jobs(spark, lambda: eng.topk(q, 10).collect()) == 2, q


def _py4j_commands(spark, fn) -> int:
    """py4j commands the driver sends the JVM while ``fn`` runs, leaving
    out memory commands: those release JVM references that earlier
    calls dropped, in batches whose timing is py4j's own."""
    client = spark.sparkContext._gateway._gateway_client
    real, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        sent.append(not command.startswith(proto.MEMORY_COMMAND_NAME))
        return real(command, *args, **kwargs)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(client, "send_command", counting)
        fn()
    return sum(sent)


@pytest.mark.parametrize("name", ["base", "delta"])
def test_warm_topk_runs_one_spark_job(spark, indexes, name):
    """Each shard's sidecar row rides in the cached scan frame, so a warm
    ``topk`` is one job (filter -> mapInPandas -> TakeOrderedAndProject)
    on the clean index and on the delta index with deletes alike. A
    shape's first use may run more: its prefix expansion, or the
    positional twin's cache. Opening the engine runs one job, the
    cache's count: the segments, doclens and doc_stats are read with
    declared schemas. The cache is planned without AQE, so no
    shape's executed plan is adaptive, and the one-expression filter
    hands the cached scan its ``term`` predicate as In/InSet. Building
    that filter is one parser call, so a 50-term prefix expansion
    costs the driver no more py4j commands than a single term."""
    idx, _ = indexes[name]
    opened = []
    n_init = _jobs(spark, lambda: opened.append(BM25Engine(spark, idx, cache=True)))
    (eng,) = opened
    try:
        assert n_init == 1  # the cache's count; the segment read infers nothing
        for q in QUERIES:
            eng.topk(q, 10).collect()
            dfs = []
            assert _jobs(spark, lambda: dfs.append(eng.topk(q, 10)) or dfs[-1].collect()) == 1, q
            plan = dfs[-1]._jdf.queryExecution().executedPlan().toString()
            assert "AdaptiveSparkPlan" not in plan, q
            (scan,) = [ln for ln in plan.splitlines() if "InMemoryTableScan" in ln]
            assert re.search(r"term#\d+ (IN \(|INSET )", scan), (q, scan)
        assert len(eng.expand_prefix("sym")) == 50
        calls = {}
        for q in ("import", "sym*"):
            eng.topk(q, 10).collect()
            calls[q] = _py4j_commands(spark, lambda: eng.topk(q, 10).collect())
        assert abs(calls["sym*"] - calls["import"]) <= 2, calls
    finally:
        eng.unpersist()


@settings(max_examples=60, deadline=None)
@given(texts=st.lists(st.text() | st.sampled_from(["'", "\\", "\n", "\U0010ffff",
                                                   "\\'", "a\\", "''"]),
                      min_size=1, max_size=8),
       escaped=st.sampled_from(["false", "true"]))
def test_sql_string_reads_back_through_the_parser(spark, texts, escaped):
    """The warm filter's term literals read back as the terms, for any
    text and under either ``escapedStringLiterals`` setting."""
    with sql_conf(spark, {"spark.sql.parser.escapedStringLiterals": escaped}):
        row = spark.range(1).select(
            *[F.expr(sql_string(t)).alias(f"t{i}") for i, t in enumerate(texts)]
        ).collect()[0]
    assert list(row) == texts


def test_needle_query_reads_one_sidecar_row(spark, indexes, monkeypatch):
    """A query whose terms sit in one shard sends the scorer that shard's
    sidecar row alone, not one per shard of the index."""
    idx, _ = indexes["delta"]
    eng = BM25Engine(spark, idx, cache=True)
    try:
        needle = "needle0"  # one live doc (needle1's is deleted)
        got = eng._segments.dfs(term_point_filter([needle]))
        assert len(got["shards"][0]) == 1 < eng.meta["n_shards"]
        frames = []
        real = type(eng._scan).mapInPandas

        def capture(frame, *args, **kwargs):
            frames.append(frame)
            return real(frame, *args, **kwargs)
        monkeypatch.setattr(type(eng._scan), "mapInPandas", capture)
        assert eng.topk(needle, 10).collect()
        (frame,) = frames
        assert frame.filter(F.col("term").isNull()).count() == 1
        assert frame.select("shard").distinct().count() == 1
    finally:
        eng.unpersist()


def test_shard_without_doclens_row_raises(spark, indexes, tmp_root):
    """A shard that has segment rows but no doclens row fails the query
    with an error naming the shard, on every tier; its docs are never
    dropped from the results silently."""
    idx = os.path.join(tmp_root, "driver_reads", "no_doclens_row")
    shutil.copytree(indexes["base"][0], idx)
    (rel,) = mf.load_manifest(idx)["doclens"]
    path = os.path.join(idx, rel)
    table = pads.dataset(path, format="parquet").to_table()
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path, f))
    victim = 2
    pq.write_table(table.filter(pc.field("shard") != victim),
                   os.path.join(path, "part-0.parquet"))
    msg = f"shard {victim} has segment rows but no doclens row"
    for cache in (True, False):
        eng = BM25Engine(spark, idx, cache=cache)
        try:
            with pytest.raises(Exception, match=f"ValueError: {msg}"):
                eng.topk("import", 10).collect()
            assert eng.topk("zzz_absent", 10).collect() == []
        finally:
            eng.unpersist()
    eng = BM25Engine(spark, idx, cache=False)
    with pytest.raises(ValueError, match=msg):
        eng.topk_local("import", 10, as_pandas=True)


def test_merge_between_check_and_read_reloads_once(spark, indexes, tmp_root,
                                                   monkeypatch):
    """A merge that retires the engine's segment dirs (grace 0) after its
    staleness check and before its point read: the call reloads once and
    answers from the merged index alone."""
    idx = os.path.join(tmp_root, "driver_reads", "race")
    shutil.copytree(indexes["delta"][0], idx)
    monkeypatch.setenv(mf.GC_GRACE_ENV, "0")
    eng = BM25Engine(spark, idx, cache=True)
    try:
        eng.topk_local("import", 10, as_pandas=True)
        old_dirs = [os.path.join(idx, e["path"])
                    for e in mf.load_manifest(idx)["segments"]]
        check, loads = eng._maybe_refresh, []

        def racing_check():
            check()
            if not loads:
                merge_segments(spark, idx)
            loads.append(1)
        monkeypatch.setattr(eng, "_maybe_refresh", racing_check)
        real_load = eng._load
        reloads = []
        monkeypatch.setattr(eng, "_load",
                            lambda: (reloads.append(1), real_load()))

        q = "needle0 sym1* -def"
        got = eng.topk_local(q, 10, as_pandas=True)
        assert not any(os.path.exists(d) for d in old_dirs)
        assert len(reloads) == 1 and len(loads) == 2
        fresh = BM25Engine(spark, idx, cache=False)
        want = fresh.topk(q, 10).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        assert got["score"].round(12).tolist() == want["score"].round(12).tolist()
        assert len(got)
    finally:
        eng.unpersist()


def test_doclens_publish_rejects_duplicate_shard(spark, tmp_root):
    from data_prep_opensearch_spark.operators.index_build import DOCLEN_SCHEMA

    rows = [(0, 0, 3, b"\x01\x02\x03", None), (1, 1 << 20, 1, b"\x05", None),
            (1, 1 << 20, 1, b"\x05", [1 << 20])]
    frame = spark.createDataFrame(rows, DOCLEN_SCHEMA)
    path = os.path.join(tmp_root, "dup_doclens")
    with pytest.raises(ValueError, match=r"shard\(s\) \[1\]"):
        mf.write_doclens(frame, path)
    mf.write_doclens(spark.createDataFrame(rows[:2], DOCLEN_SCHEMA), path)
