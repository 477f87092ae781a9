"""Self-tests for the benchmark's own code (no Spark session):

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- seeds

def _inputs(seed: int):
    ids = inputs.corpus_window(seed, 60)
    corpus = inputs.generate_chunk(ids)
    pools = inputs.query_pools(corpus, 7)
    stream = inputs.query_stream(seed, pools, 12, in_use=1)
    commit = inputs.make_commit(seed, 0, corpus, corpus, 4, 2, 2)
    return ids, pools, stream, commit


def test_same_seed_same_inputs():
    a, b = _inputs(7), _inputs(7)
    assert (a[0] == b[0]).all()
    assert a[1] == b[1]
    assert a[2] == b[2]
    assert a[3].rows.equals(b[3].rows)


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert a[0][0] != b[0][0]
    assert a[2] != b[2]


def test_commit_mix():
    ids = inputs.corpus_window(3, 60)
    corpus = inputs.generate_chunk(ids)
    c = inputs.make_commit(3, 1, corpus, corpus, 4, 2, 3)
    assert len(c.rows) == 9 and c.expected_indexed == 6 and c.resent == 3
    indexed = c.rows.iloc[:6]
    assert indexed["content"].str.contains(c.marker).all()
    # re-commits keep an indexed (repo, path) under a new commit hash
    keys = set(zip(corpus["repo"], corpus["path"]))
    assert all(k in keys for k in zip(indexed["repo"].iloc[4:], indexed["path"].iloc[4:]))
    assert not set(indexed["commit"]) & set(corpus["commit"])
    # re-sends are rows already indexed, unchanged
    resent = c.rows.iloc[6:]
    assert set(zip(resent["repo"], resent["path"], resent["commit"])) <= set(
        zip(corpus["repo"], corpus["path"], corpus["commit"]))


def test_pool_entries_share_no_term():
    pools = inputs.query_pools(inputs.generate_chunk(inputs.corpus_window(2, 300)), 7)
    for shape, qs in pools.items():
        terms = [t for q in qs for t in q.positive_terms]
        assert len(terms) == len(set(terms)), shape


def _run_stream(seed: int):
    pools = inputs.query_pools(inputs.generate_chunk(inputs.corpus_window(seed, run.N_DOCS)),
                               run.POOL_PER_SHAPE)
    warm = inputs.warm_pool_entries(pools, run.WARM_PER_SHAPE)
    return inputs.query_stream(seed, pools, run.MAX_CYCLES, run.WARM_PER_SHAPE), warm


@pytest.mark.parametrize("seed", [1, 2])
def test_cycles_hold_a_fixed_mix_and_first_uses_are_cold(seed):
    from collections import Counter

    stream, warm = _run_stream(seed)
    C, B = inputs.CYCLE, inputs.BALANCED_CYCLES
    assert len(stream) == run.MAX_CYCLES * C and run.MIN_CYCLES % B == 0
    for i in range(0, len(stream), C):
        cycle = stream[i:i + C]
        assert sum(c.fresh for c in cycle) == inputs.FRESH_PER_CYCLE
        assert sum(c.topk for c in cycle) == inputs.TOPK_PER_CYCLE
        assert sorted(c.query.shape for c in cycle if not c.fresh) == sorted(inputs.SHAPES)
    for i in range(0, len(stream), B * C):
        block = stream[i:i + B * C]
        assert Counter(c.query.shape for c in block if c.fresh) == Counter(
            inputs.FRESH_SHAPES)
    assert not any(c.fresh and c.query.page2 for c in stream)
    props = inputs.stream_properties(stream, warm)
    assert props["first_use_share"] == inputs.FRESH_SHARE
    # every first use brings a term not seen before, every repeat none:
    # the 90th percentile call is a cold one
    assert props["repeat_only_seen_share"] == pytest.approx(1 - inputs.FRESH_SHARE)


def test_stream_properties():
    stream, warm = _run_stream(5)
    props = inputs.stream_properties(stream, warm)
    assert sum(props[f"shape_share.{s}"] for s in inputs.SHAPES) == pytest.approx(1.0)
    assert 0 < props["hot_term_share"] < 1


# ---------------------------------------------------------------- percentiles

@pytest.mark.parametrize("pct,need", [(90, 100), (99, 1000), (50, 20), (75, 40)])
def test_tail_needs_ten_beyond(pct, need):
    assert stats.min_samples_for(pct) == need
    values = [float(i) for i in range(need)]
    with pytest.raises(ValueError):
        stats.tail(values[:-1], pct)
    got = stats.tail(values, pct)
    assert sum(v > got for v in values) >= stats.MIN_BEYOND


def test_end_to_end_refuses_short_samples():
    s = {k: [1.0] * 200 for k in ("local_ms@ref", "local_cpu_ms@ref", "topk_cpu_ms@ref",
                                   "calib_ms")}
    fake = SimpleNamespace(samples=s, setup_s=1.0, peak_rss_mb=1.0,
                           index_bytes_per_input_byte=1.0)
    assert set(run.end_to_end(fake)) == {m["name"] for m in _bench()["end_to_end"]}
    s["local_cpu_ms@ref"] = [1.0] * 99
    with pytest.raises(ValueError):
        run.end_to_end(fake)


# ---------------------------------------------------------------- names

def test_declared_names_are_well_formed():
    b = _bench()
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in b[kind]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert {w["name"] for w in b["workloads"]} == set(run.WORKLOADS)


def _fake_trace():
    tr = spans.Tracer()
    names = ["index_build.build_index", "index_build.sort_segments", "bm25.engine_init",
             "manifest.read_segments", "manifest.read_doclens", "manifest.read_doc_stats",
             "bm25.resolve_df", "bm25.expand_prefix", "bm25.expand_fuzzy",
             "incremental.add_documents", "incremental.delete_documents",
             "segment_merge.merge_segments"]
    for n in names:
        with tr.span(n):
            pass
    for inner in ("bm25.topk", "bm25.topk_local", "bm25.topk_batch"):
        with tr.span("bench.query"):
            with tr.span(inner):
                pass
    job = spans.Job(0, 0, tr.spans[0].start, tr.spans[0].end, [0], 4)
    tr.spans[0].jobs.append(0)
    return tr, [job], {0: 100}


def test_per_layer_names_match_declaration():
    tr, jobs, stages = _fake_trace()
    samples = {k: [1.0] for k in ("bm25.refresh_ms", "topk_plan_ms", "topk_exec_ms",
                                  "topk_python_bytes", "batch_plan_ms", "batch_exec_ms",
                                  "batch_ms_per_query", "commit_s", "refresh_ms",
                                  "incremental.add_documents_s",
                                  "incremental.delete_documents_s")}
    layer = {k: 1.0 for k in (
        "session.get_spark_s", "corpus.stage_s", "index_build.build_index_s",
        "index_build.sort_segments_s", "index_build.build_cpu_util",
        "index_build.build_docs_per_s", "bm25.engine_init_s", "incremental.indexed_share",
        "segment_merge.bytes_rewritten", "segment_merge.segment_rows_out",
        "segment_merge.merge_s")}
    fake = SimpleNamespace(layer=layer, samples=samples, gc_ms=1.0, inputs=inputs,
                           local_by_shape={s: [1.0] for s in inputs.SHAPES})
    got = run.per_layer(fake, tr, jobs, stages)
    assert set(got) == {m["name"] for m in _bench()["per_layer"]}
    assert got["index_build.build_jobs"] == 1.0
    assert got["index_build.build_shuffle_bytes"] == 100.0


# ---------------------------------------------------------------- self time

def _span(i, name, parent, a, b):
    return spans.Span(i, name, parent, 0, a, b)


def test_union_length():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert spans.union_length([], 0, 1) == 0
    assert spans.union_length([(2, 3)], 0, 1) == 0


def test_self_time_subtracts_children():
    parent = _span(0, "bm25.topk", None, 0.0, 10.0)
    kids = [_span(1, "bm25.resolve_df", 0, 1.0, 3.0), _span(2, "manifest.read_doclens", 0, 2.0, 4.0),
            _span(3, "bm25.expand_prefix", 0, 6.0, 7.0)]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_outside_jobs_time():
    parent = _span(0, "incremental.add_documents", None, 0.0, 10.0)
    kids = [_span(1, "manifest.read_doc_stats", 0, 1.0, 2.0)]
    jobs = [spans.Job(0, 0, 1.5, 4.0, [], 1), spans.Job(1, 0, 8.0, 12.0, [], 1)]
    # covered: [1, 4] by the child and the first job, [8, 10] by the second
    assert spans.outside_jobs_time(parent, kids, jobs) == pytest.approx(10.0 - 3.0 - 2.0)


def test_layer_times_sum_self_time_per_layer():
    s = [
        _span(0, "bench.write", None, 0.0, 20.0),
        _span(1, "incremental.add_documents", 0, 1.0, 9.0),
        _span(2, "manifest.read_doc_stats", 1, 2.0, 3.0),
        _span(3, "manifest.read_doclens", 1, 4.0, 6.0),
        _span(4, "segment_merge.merge_segments", 0, 10.0, 19.0),
        _span(5, "manifest.read_doclens", 4, 11.0, 12.0),
    ]
    jobs = [spans.Job(0, 1, 6.5, 7.5, [], 1)]
    t = spans.layer_times(s, jobs)
    assert t["bench"][0] == pytest.approx(20.0 - 8.0 - 9.0)
    assert t["incremental"] == pytest.approx((8.0 - 3.0, 8.0 - 3.0 - 1.0))
    assert t["manifest"][0] == pytest.approx(1.0 + 2.0 + 1.0)
    assert t["segment_merge"][0] == pytest.approx(9.0 - 1.0)
    # every instant of the root is some layer's self time exactly once
    assert sum(v[0] for v in t.values()) == pytest.approx(20.0)


def test_untagged_job_goes_to_the_span_open_at_submission():
    s = [
        _span(0, "bench.setup", None, 0.0, 10.0),
        _span(1, "index_build.build_index", 0, 1.0, 5.0),
        _span(2, "manifest.read_doclens", 1, 2.0, 3.0),
        _span(3, "bm25.engine_init", 0, 6.0, 8.0),
    ]
    jobs = [spans.Job(0, None, 4.0, 4.5, [], 1),   # thread job in build_index
            spans.Job(1, None, 2.5, 2.6, [], 1),   # ... while a child is open
            spans.Job(2, 3, 2.0, 2.1, [], 1),      # tagged: the tag wins
            spans.Job(3, None, 11.0, 12.0, [], 1)]  # outside every span
    spans.attribute(s, jobs)
    assert [j.span for j in jobs] == [1, 2, 3, None]
    assert [j.by_time for j in jobs] == [True, True, False, False]
    assert s[1].jobs == [0] and s[2].jobs == [1] and s[3].jobs == [2]


def test_innermost_span_owns_the_job():
    tr = spans.Tracer()
    with tr.span("bench.query"):
        with tr.span("bm25.topk"):
            with tr.span("bm25.resolve_df"):
                pass
    assert [sp.parent for sp in tr.spans] == [None, 0, 1]
    tags = [f"{spans.TAG_PREFIX}{sp.id}" for sp in tr.spans] + ["unrelated"]
    assert spans.owner_span(tags) == 2
    assert spans.owner_span(tags[:2]) == 1
    assert spans.owner_span(["unrelated"]) is None
