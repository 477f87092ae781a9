#!/usr/bin/env python3
"""Repository benchmark: a warm BM25 search service and a search service
right after an ingest commit, each run in a fresh process and JVM on
local[<half the cores>].

    python3 perfbench/run.py --workload search_warm --seed 1 --seconds 10 --trace 0

Setup builds a seeded index, opens the engine and warms its two tiers.
Then a read window sends one seeded query stream in cycles, in whole
balanced blocks of cycles until --seconds have passed, and at least
MIN_CYCLES cycles. A cycle is inputs.CYCLE ``topk_local`` calls: one
repeat of each of the nine query shapes, whose terms the engine has
cached, and two first uses of new pool entries, which fetch terms (about
three Spark jobs each); two of the repeats then also go through the
distributed ``topk``. So the median local call is warm and the 90th
percentile call is a cold fetch.

On a shared host (measured on 4 vCPUs, 16 GB) CPU speed drifts by a
fifth within seconds, and CPU stolen by other guests can double a Spark
call's wall time. So the end-to-end timings are taken in forms that hold
still across runs. Each sample is divided by the wall time of a fixed
Python/numpy kernel run just before it (calib_ms) and multiplied by
CALIB_REF_MS, which puts it at the reference host's speed; and the Spark
calls are timed by the CPU time the process tree spent in them, which
leaves out waits for CPU that other guests took:

  setup_s           process start to the read window, wall time
  local_p50_ms      median topk_local call (a warm one), wall time
  local_p90_cpu_ms  90th percentile topk_local call (a cold fetch), CPU
  topk_cpu_ms       median topk call, CPU

CPU time is read per process in nanoseconds and leaves out the JVM's JIT
compiler threads. Raw wall times are in the run record (series_ms) and in
the per-layer metrics.

The workloads differ in the index the window reads:

  search_warm     the index as built: one generation, no deletes
  ingest_refresh  setup also commits a seeded add (new, re-committed and
                  re-sent files) and a delete, each followed by a probe that
                  must see it; the window reads the reloaded, unmerged index

Every answer is checked: the tiers agree; in search_warm a seeded sample
matches ``oracle.OracleIndex``; probes see every add and no delete;
``n_docs`` matches. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. A traced run then also runs the write path the window does not
(search_warm's commits, ``topk_batch`` calls, and
``merge_segments(apply_deletes=True)`` with a last probe) and writes its
spans to .perfbench/.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_prep_opensearch_spark"
K = 10
PROBE_K = 100
BATCH_SIZE = 8
ORACLE_SAMPLE = 8
SCORE_TOL = 1e-9
LAYERS = ("session", "corpus", "index_build", "manifest", "bm25",
          "incremental", "segment_merge")


N_DOCS = 300           # base corpus: sized so a run fits its time budget
# the add's new, re-committed and re-sent files: an assumed mix, not
# measured ingest traffic
COMMIT_ROWS = (12, 6, 6)
POOL_PER_SHAPE = 24
WARM_PER_SHAPE = 1     # pool entries per shape setup runs once
# Cycles of the read window: whole multiples of inputs.BALANCED_CYCLES,
# at least MIN_CYCLES (132 topk_local calls, so p90 has ten beyond; 24
# topk calls). The hot shape has seven disjoint pairs, one warmed and six
# first uses, which 24 cycles reach (one per BALANCED_CYCLES).
MIN_CYCLES = 12
MAX_CYCLES = 24
BATCHES = 4            # topk_batch calls in a traced run

# Whether setup commits an add and a delete before the read window.
WORKLOADS = {"search_warm": False, "ingest_refresh": True}


# ---------------------------------------------------------------- machine

def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # the 300-doc index needs little heap; a small cap keeps the JVM's
    # resident set from following the collector's heap sizing
    heap_gb = max(1, min(4, mem_kb // (1 << 20) // 12))
    # Spark gets half the cores: the driver's Python client, the JVM's own
    # threads and the Python workers run beside its task threads, and more
    # runnable threads than cores would time the host's scheduler
    return {"cpus": cores, "spark_cores": max(1, cores // 2),
            "mem_total_mb": mem_kb // 1024, "driver_heap": f"{heap_gb}g"}


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[int, float]:
    """Each process's own peak RSS (VmHWM) over this process and its
    descendants: the JVM and the Python workers, which live for the run."""
    out = {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return out


def _stat_cpu_ticks(path: str) -> int:
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and its descendants."""
    pids = [os.getpid()] + descendants(os.getpid())
    return sum(_stat_cpu_ticks(f"/proc/{p}/stat") for p in pids) / os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU time of this process and its descendants, per process in
    nanoseconds (clock_getcpuclockid), less the time of the JVM's JIT
    compiler threads: warm-up work that runs beside a call, not for it.
    The JVM runs with a fixed set of compiler threads."""

    def __init__(self) -> None:
        import ctypes
        import ctypes.util

        libc = ctypes.CDLL(ctypes.util.find_library("c"), use_errno=True)
        self.clocks = {}
        self.jit = []
        for pid in [os.getpid()] + descendants(os.getpid()):
            cid = ctypes.c_int()
            if libc.clock_getcpuclockid(pid, ctypes.byref(cid)) == 0:
                self.clocks[pid] = cid.value
            task = f"/proc/{pid}/task"
            try:
                tids = os.listdir(task)
            except OSError:  # the process has exited
                continue
            for tid in tids:
                try:
                    with open(f"{task}/{tid}/comm") as f:
                        if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                            self.jit.append(f"{task}/{tid}/schedstat")
                except OSError:
                    continue

    def read(self) -> dict:
        out = {}
        for pid, cid in self.clocks.items():
            try:
                out[pid] = time.clock_gettime_ns(cid)
            except OSError:  # the process has exited
                continue
        for path in self.jit:
            try:
                with open(path) as f:
                    out[path] = -int(f.read().split()[0])
            except OSError:
                continue
        return out

    @staticmethod
    def ms(before: dict, after: dict) -> float:
        """CPU milliseconds between two reads, over what both saw."""
        return sum(after[k] - before[k] for k in before.keys() & after.keys()) / 1e6


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


_CALIB = [(i * 7919) % 10007 / 10007.0 for i in range(20_000)]
CALIB_REF_MS = 2.0  # calib_ms on the reference host (4 vCPUs, idle)


def calib_ms() -> float:
    """Wall time of a fixed piece of pure Python and numpy work, which the
    program does not run: the host's speed for the driver at this moment."""
    import numpy as np

    t = time.perf_counter()
    d: dict[int, int] = {}
    for i in range(3000):
        d[i % 97] = d.get(i % 97, 0) + i
    np.argsort(np.asarray(_CALIB))
    return (time.perf_counter() - t) * 1e3


# ---------------------------------------------------------------- checks

@dataclass
class Ledger:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"FAIL {msg}", file=sys.stderr)


def ranked(rows) -> list[tuple[int, float]]:
    return [(int(d), float(s)) for d, s in rows]


def same_ranking(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= SCORE_TOL for (da, sa), (db, sb) in zip(a, b))


# ---------------------------------------------------------------- the run

class Run:
    def __init__(self, args, tracer, ledger: Ledger) -> None:
        self.args = args
        self.commit_in_setup = WORKLOADS[args.workload]
        self.tr = tracer
        self.led = ledger
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.local_by_shape: dict[str, list[float]] = {}
        self.props: dict = {}
        self.commit = None
        self.ops = 0  # operation id carried by spans

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def add_scaled(self, key: str, value: float, calib: float) -> None:
        """A sample and its form at the reference host's speed: divided by
        the calib_ms run just before it."""
        self.add(key, value)
        self.add("calib_ms", calib)
        self.add(f"{key}@ref", value * CALIB_REF_MS / calib)

    # -- setup ---------------------------------------------------------
    def setup(self, scratch: str, mach: dict) -> None:
        import inputs
        from data_prep_opensearch_spark.operators import bm25
        from data_prep_opensearch_spark.operators import index_build as ib
        from data_prep_opensearch_spark.session import get_spark
        from data_prep_opensearch_spark.sources.corpus import CORPUS_SCHEMA, generate_chunk

        self.inputs = inputs
        a, tr = self.args, self.tr
        t = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench", cores=mach["spark_cores"],
                extra_conf={
                    "spark.driver.memory": mach["driver_heap"],
                    "spark.local.dir": os.path.join(scratch, "spark"),
                    "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={scratch} -XX:-UseDynamicNumberOfCompilerThreads"),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "10",
                })
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        tr.attach(self.spark.sparkContext)
        self.gc0 = self.jvm_gc_ms()

        self.corpus = generate_chunk(inputs.corpus_window(a.seed, N_DOCS))
        self.content_bytes = int(self.corpus["content"].str.len().sum())
        self.base_path = os.path.join(scratch, "corpus")
        t = time.perf_counter()
        with tr.span("corpus.stage"):
            self.spark.createDataFrame(self.corpus, CORPUS_SCHEMA).write.parquet(self.base_path)
        self.layer["corpus.stage_s"] = time.perf_counter() - t

        self.idx = os.path.join(scratch, "index")
        cpu0, t = tree_cpu_s(), time.perf_counter()
        ib.build_index(self.spark, self.spark.read.parquet(self.base_path), self.idx,
                       n_shards=mach["spark_cores"], n_groups=1)
        t_build = time.perf_counter()
        # one file per ~64 MB of segments, as the catalog publishes
        ib.sort_segments(self.spark, self.idx, n_files=1)
        t_sort = time.perf_counter()
        self.layer["index_build.build_index_s"] = t_build - t
        self.layer["index_build.sort_segments_s"] = t_sort - t_build
        self.layer["index_build.build_cpu_util"] = (
            (tree_cpu_s() - cpu0) / ((t_sort - t) * mach["spark_cores"]))
        self.layer["index_build.build_docs_per_s"] = N_DOCS / (t_sort - t)

        t = time.perf_counter()
        with tr.span("bm25.engine_init"):
            self.eng = bm25.BM25Engine(self.spark, self.idx, cache=True)
        self.layer["bm25.engine_init_s"] = time.perf_counter() - t
        with tr.span("bench.warmup"):
            for text in inputs.WARMUP_QUERIES:
                self.eng.topk_local(text, K, as_pandas=True)
            self.eng.topk(inputs.WARMUP_QUERIES[0], K).collect()

        if self.commit_in_setup:
            self.commit_phase()
        # A commit drops the engine's caches, so the pool entries are
        # warmed after it.
        self.pools = inputs.query_pools(self.corpus, POOL_PER_SHAPE)
        self.stream = inputs.query_stream(a.seed, self.pools, MAX_CYCLES, WARM_PER_SHAPE)
        self.prewarmed = inputs.warm_pool_entries(self.pools, WARM_PER_SHAPE)
        with tr.span("bench.warmup"):
            for q in self.prewarmed:
                self.local(q, timed=False)

    def jvm_gc_ms(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    # -- tiers ---------------------------------------------------------
    def local(self, q, timed: bool = True) -> tuple:
        """One topk_local call; page2 times only the cursored page.
        Returns (query, cursor, ranking)."""
        eng = self.eng
        after = None
        if q.page2:
            first = eng.topk_local(q.text, K, as_pandas=True)
            if len(first):
                after = (float(first["score"].iloc[-1]), int(first["doc_id"].iloc[-1]))
        self.ops += 1
        t = time.perf_counter()
        # untimed calls (warm-up, checks) stay out of the local-tier
        # figures, which are read from bench.query spans
        with self.tr.span("bench.query" if timed else "bench.check", self.ops):
            res = eng.topk_local(q.text, K, as_pandas=True, min_should_match=q.msm,
                                 search_after=after)
        dt = (time.perf_counter() - t) * 1e3
        if timed:
            self.add("local_ms", dt)
            self.local_by_shape.setdefault(q.shape, []).append(dt)
        self.led.op()
        return q, after, ranked(zip(res["doc_id"], res["score"]))

    def topk(self, q, after) -> list[tuple[int, float]]:
        self.ops += 1
        tr = self.tr
        with tr.span("bench.query", self.ops):
            t = time.perf_counter()
            df = self.eng.topk(q.text, K, min_should_match=q.msm, search_after=after)
            t1 = time.perf_counter()
            with tr.span("bm25.topk_collect", self.ops):
                rows = df.collect()
            t2 = time.perf_counter()
        self.add("topk_ms", (t2 - t) * 1e3)
        self.add("topk_plan_ms", (t1 - t) * 1e3)
        self.add("topk_exec_ms", (t2 - t1) * 1e3)
        if tr.enabled:
            from spans import plan_python_bytes
            self.add("topk_python_bytes", plan_python_bytes(df._jdf))
        self.led.op()
        return ranked((r["doc_id"], r["score"]) for r in rows)

    def batch(self, qs) -> dict[int, list[tuple[int, float]]]:
        self.ops += 1
        tr = self.tr
        with tr.span("bench.query", self.ops):
            t = time.perf_counter()
            df = self.eng.topk_batch([q.text for q in qs], K)
            t1 = time.perf_counter()
            with tr.span("bm25.batch_collect", self.ops):
                rows = df.collect()
            t2 = time.perf_counter()
        self.add("batch_ms_per_query", (t2 - t) * 1e3 / len(qs))
        self.add("batch_plan_ms", (t1 - t) * 1e3)
        self.add("batch_exec_ms", (t2 - t1) * 1e3)
        out: dict[int, list] = {i: [] for i in range(len(qs))}
        for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"], r["doc_id"])):
            out[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
        self.led.op(len(qs))
        return out

    def read_window(self, deadline: float) -> None:
        """Send the stream cycle by cycle until the deadline passes, in
        whole balanced blocks (see MIN_CYCLES); the cycle's topk calls
        follow its topk_local calls. The tiers' answers are compared after
        the window."""
        C, B = self.inputs.CYCLE, self.inputs.BALANCED_CYCLES
        pairs = []
        n = 0
        while n < MIN_CYCLES or (n < MAX_CYCLES and time.perf_counter() < deadline):
            for _ in range(B):
                cycle = self.stream[n * C:(n + 1) * C]
                cpu = CpuMeter()
                sent = []
                for call in cycle:
                    calib = calib_ms()
                    c0 = cpu.read()
                    sent.append(self.local(call.query))
                    self.add_scaled("local_cpu_ms", cpu.ms(c0, cpu.read()), calib)
                    self.add("local_ms@ref", self.samples["local_ms"][-1] * CALIB_REF_MS / calib)
                for call, lr in zip(cycle, sent):
                    if call.topk:
                        calib = calib_ms()
                        c0 = cpu.read()
                        pairs.append((lr, self.topk(lr[0], lr[1])))
                        self.add_scaled("topk_cpu_ms", cpu.ms(c0, cpu.read()), calib)
                n += 1
        self.sent = self.stream[:n * C]
        for (q, _after, want), got in pairs:
            if not same_ranking(want, got):
                self.led.fail(f"topk != topk_local for {q}: {got[:3]} vs {want[:3]}")

    def oracle_check(self) -> None:
        """A seeded sample of the queries the window sent, against the
        exhaustive oracle keyed by the engine's doc ids (outside any
        timing). The index must hold the base corpus only."""
        from data_prep_opensearch_spark.operators.manifest import read_doc_stats
        from data_prep_opensearch_spark.oracle import OracleIndex

        with self.tr.span("bench.oracle"):
            stats = read_doc_stats(self.spark, self.idx).select(
                "doc_id", "repo", "path", "commit").collect()
        key2id = {(r["repo"], r["path"], r["commit"]): int(r["doc_id"]) for r in stats}
        ora = OracleIndex({key2id[(r.repo, r.path, r.commit)]: r.content
                           for r in self.corpus.itertuples(index=False)})
        # the engine has their terms cached, so the check adds no fetches
        pool = list(dict.fromkeys(call.query for call in self.sent))
        rng = self.inputs.rng_for(self.args.seed, 4)
        for i in sorted(int(p) for p in rng.choice(len(pool), ORACLE_SAMPLE, replace=False)):
            q, after, got = self.local(pool[i], timed=False)
            if q.page2:
                want = ora.query(q.text, 2 * K)[K:] if after is not None else []
            else:
                want = ora.query(q.text, K, min_should_match=q.msm)
            if not same_ranking([(int(d), float(s)) for d, s in want], got):
                self.led.fail(f"oracle mismatch for {q}: {got[:3]} vs {want[:3]}")

    # -- write path ----------------------------------------------------
    def probe(self, marker: str) -> list[int]:
        res = self.eng.topk_local(marker, PROBE_K, as_pandas=True)
        return sorted(int(d) for d in res["doc_id"])

    def timed_probe(self, marker: str) -> list[int]:
        """First probe after a commit (engine reload included), then its
        warm repeat."""
        t = time.perf_counter()
        with self.tr.span("bench.probe"):
            hits = self.probe(marker)
        t1 = time.perf_counter()
        again = self.probe(marker)
        t2 = time.perf_counter()
        self.add("refresh_ms", (t1 - t) * 1e3)
        self.add("bm25.refresh_ms", ((t1 - t) - (t2 - t1)) * 1e3)
        if again != hits:
            self.led.fail(f"probe {marker} not stable: {hits} vs {again}")
        self.led.op()
        return hits

    def commit_phase(self) -> None:
        """One add (new, re-committed and re-sent files), then a delete of a
        third of what it indexed; a probe follows each commit."""
        from data_prep_opensearch_spark.operators import incremental
        from data_prep_opensearch_spark.operators.bm25 import load_meta

        spark = self.spark
        c = self.inputs.make_commit(self.args.seed, 0, self.corpus, self.corpus, *COMMIT_ROWS)
        t = time.perf_counter()
        res = incremental.add_documents(spark, self.idx, spark.createDataFrame(c.rows))
        self.add("commit_s", time.perf_counter() - t)
        self.add("incremental.add_documents_s", time.perf_counter() - t)
        self.led.op()
        if res["docs_added"] != c.expected_indexed:
            self.led.fail(f"{c.marker}: indexed {res['docs_added']}, expected {c.expected_indexed}")
        n_docs = int(load_meta(self.idx)["n_docs"])
        if n_docs != N_DOCS + c.expected_indexed:
            self.led.fail(f"n_docs after add {n_docs}, expected {N_DOCS + c.expected_indexed}")
        self.live = set(self.timed_probe(c.marker))
        if len(self.live) != c.expected_indexed:
            self.led.fail(f"probe {c.marker}: {len(self.live)} hits, expected {c.expected_indexed}")

        self.deleted = set(sorted(self.live)[: c.expected_indexed // 3])
        vdf = spark.createDataFrame([(v,) for v in sorted(self.deleted)], "doc_id long")
        t = time.perf_counter()
        incremental.delete_documents(spark, self.idx, vdf)
        self.add("commit_s", time.perf_counter() - t)
        self.add("incremental.delete_documents_s", time.perf_counter() - t)
        self.led.op()
        self.live -= self.deleted
        if set(self.timed_probe(c.marker)) != self.live:
            self.led.fail(f"probe {c.marker} after delete")

        self.commit = c
        self.layer["incremental.indexed_share"] = res["docs_added"] / len(c.rows)
        self.props["delta.resend_share"] = c.resent / len(c.rows)
        self.props["delta.delete_share"] = len(self.deleted) / c.expected_indexed

    def input_bytes(self) -> int:
        """Content bytes of every document the index has taken in."""
        n = self.content_bytes
        if self.commit is not None:
            c = self.commit
            n += int(c.rows["content"].iloc[:c.expected_indexed].str.len().sum())
        return n

    # -- traced receipts -----------------------------------------------
    def receipts(self) -> None:
        """The write path and the batch tier, which the read window does
        not run, for the per-layer metrics."""
        if self.commit is None:
            self.commit_phase()
        self.batch_rounds()
        self.merge()

    def batch_rounds(self) -> None:
        """BATCHES topk_batch calls over queries the window sent, each
        checked against topk_local on the same index."""
        sent = [q for q in dict.fromkeys(call.query for call in self.sent)
                if q.shape in self.inputs.BATCH_SHAPES]
        with self.tr.span("bench.warmup"):
            self.eng.topk_batch(list(self.inputs.WARMUP_QUERIES), K).collect()
        for i in range(BATCHES):
            qs = [sent[(i * BATCH_SIZE + j) % len(sent)] for j in range(BATCH_SIZE)]
            got = self.batch(qs)
            for j, q in enumerate(qs):
                want = self.local(q, timed=False)[2]
                if not same_ranking(want, got[j]):
                    self.led.fail(f"topk_batch != topk_local for {q}: {got[j][:3]} vs {want[:3]}")

    def merge(self) -> None:
        from data_prep_opensearch_spark.operators import segment_merge
        from data_prep_opensearch_spark.operators.bm25 import load_meta

        before = set(os.listdir(self.idx))
        t = time.perf_counter()
        segment_merge.merge_segments(self.spark, self.idx, apply_deletes=True)
        self.layer["segment_merge.merge_s"] = time.perf_counter() - t
        self.led.op()
        new = [d for d in os.listdir(self.idx) if d not in before]
        self.layer["segment_merge.bytes_rewritten"] = float(
            sum(dir_bytes(os.path.join(self.idx, d)) for d in new))
        self.layer["segment_merge.segment_rows_out"] = float(self.parquet_rows(
            [os.path.join(self.idx, d) for d in new if d.startswith("seg_merged")]))
        expected = N_DOCS + self.commit.expected_indexed - len(self.deleted)
        n_docs = int(load_meta(self.idx)["n_docs"])
        if n_docs != expected:
            self.led.fail(f"n_docs after merge {n_docs}, expected {expected}")
        hits = set(self.timed_probe(self.commit.marker))
        if hits != self.live or hits & self.deleted:
            self.led.fail(f"probe {self.commit.marker} after merge: {sorted(hits)}")

    @staticmethod
    def parquet_rows(dirs: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                   for d in dirs for r, _s, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))


# ---------------------------------------------------------------- tracing

def install_spans(tracer) -> list[tuple[object, str, object]]:
    """Wrap each layer's public calls in spans; returns what to restore."""
    from data_prep_opensearch_spark.operators import (
        bm25,
        incremental,
        index_build,
        manifest,
        segment_merge,
    )

    targets = [
        (index_build, "build_index"), (index_build, "sort_segments"),
        (manifest, "read_segments"), (manifest, "read_doclens"),
        (manifest, "read_doc_stats"),
        (bm25.BM25Engine, "resolve_df"), (bm25.BM25Engine, "expand_prefix"),
        (bm25.BM25Engine, "expand_fuzzy"), (bm25.BM25Engine, "topk_local"),
        (bm25.BM25Engine, "topk"), (bm25.BM25Engine, "topk_batch"),
        (incremental, "add_documents"), (incremental, "delete_documents"),
        (segment_merge, "merge_segments"),
    ]
    saved = []
    for owner, attr in targets:
        layer = "bm25" if owner is bm25.BM25Engine else owner.__name__.rsplit(".", 1)[1]
        fn = owner.__dict__[attr]
        saved.append((owner, attr, fn))
        setattr(owner, attr, tracer.wrap(f"{layer}.{attr}", fn))
    return saved


def per_layer(run: Run, tracer, jobs, stages) -> dict[str, float]:
    import statistics as st

    from stats import median
    from spans import layer_times, union_length

    spans = tracer.spans
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    by_id = {j.id: j for j in jobs}

    def subtree_jobs(sp) -> list[int]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.extend(s.jobs)
            todo.extend(kids.get(s.id, []))
        return out

    def named(name):
        return [sp for sp in spans if sp.name == name]

    def n_jobs(names) -> int:
        return sum(len(subtree_jobs(sp)) for n in names for sp in named(n))

    def med_ms(name) -> float:
        d = [sp.dur * 1e3 for sp in named(name)]
        return median(d) if d else 0.0

    def mean_ms(name) -> float:
        d = [sp.dur * 1e3 for sp in named(name)]
        return st.mean(d) if d else 0.0

    m = dict(run.layer)
    m["session.jvm_gc_ms"] = run.gc_ms
    build = named("index_build.build_index") + named("index_build.sort_segments")
    build_jobs = [j for sp in build for j in subtree_jobs(sp)]
    m["index_build.build_jobs"] = float(len(build_jobs))
    m["index_build.build_shuffle_bytes"] = float(sum(
        stages.get(s, 0) for j in build_jobs for s in by_id[j].stages))
    for short in ("read_segments", "read_doclens", "read_doc_stats"):
        m[f"manifest.{short}_ms"] = med_ms(f"manifest.{short}")
    m["manifest.read_jobs"] = float(n_jobs(
        ["manifest.read_segments", "manifest.read_doclens", "manifest.read_doc_stats"]))
    m["bm25.engine_init_jobs"] = float(n_jobs(["bm25.engine_init"]))
    m["bm25.refresh_ms"] = median(run.samples["bm25.refresh_ms"])
    # planning calls are mostly cache hits: report the mean, which the
    # cold calls dominate
    m["bm25.resolve_df_ms"] = mean_ms("bm25.resolve_df")
    m["bm25.resolve_df_jobs"] = float(n_jobs(["bm25.resolve_df"]))
    m["bm25.expand_prefix_ms"] = mean_ms("bm25.expand_prefix")
    m["bm25.expand_fuzzy_ms"] = mean_ms("bm25.expand_fuzzy")

    # distributed tier: a bench.query op holding a bm25.topk span
    topk_ops = [sp for sp in named("bench.query")
                if any(c.name == "bm25.topk" for c in kids.get(sp.id, []))]
    m["bm25.topk_plan_ms"] = median(run.samples["topk_plan_ms"])
    m["bm25.topk_exec_ms"] = median(run.samples["topk_exec_ms"])
    tj = [subtree_jobs(sp) for sp in topk_ops]
    m["bm25.topk_jobs"] = st.mean(len(j) for j in tj)
    m["bm25.topk_stages"] = st.mean(sum(len(by_id[i].stages) for i in j) for j in tj)
    m["bm25.topk_tasks"] = st.mean(sum(by_id[i].tasks for i in j) for j in tj)
    m["bm25.topk_driver_ms"] = median([
        (sp.dur - union_length([(by_id[i].start, by_id[i].end) for i in j], sp.start, sp.end)) * 1e3
        for sp, j in zip(topk_ops, tj)])
    m["bm25.topk_python_bytes"] = median(run.samples["topk_python_bytes"])

    for shape in run.inputs.SHAPES:
        m[f"bm25.local_ms.{shape}"] = median(run.local_by_shape.get(shape, [0.0]))
    local_ops = [sp for sp in named("bench.query")
                 if any(c.name == "bm25.topk_local" for c in kids.get(sp.id, []))]
    lj = [len(subtree_jobs(sp)) for sp in local_ops]
    m["bm25.local_jobs"] = 1000.0 * sum(lj) / len(lj)
    m["bm25.local_cold_share"] = sum(1 for n in lj if n) / len(lj)
    m["bm25.batch_plan_ms"] = median(run.samples["batch_plan_ms"])
    m["bm25.batch_exec_ms"] = median(run.samples["batch_exec_ms"])
    bq = [sp for sp in named("bench.query")
          if any(c.name == "bm25.topk_batch" for c in kids.get(sp.id, []))]
    m["bm25.batch_jobs"] = st.mean(len(subtree_jobs(sp)) for sp in bq)
    m["bm25.batch_ms_per_query"] = median(run.samples["batch_ms_per_query"])

    m["incremental.add_documents_s"] = median(run.samples["incremental.add_documents_s"])
    m["incremental.delete_documents_s"] = median(run.samples["incremental.delete_documents_s"])
    adds = named("incremental.add_documents")
    m["incremental.add_jobs"] = st.mean(len(subtree_jobs(sp)) for sp in adds)
    m["incremental.commit_p50_s"] = median(run.samples["commit_s"])
    # commit return -> first probe that shows it (engine reload included)
    m["incremental.refresh_p50_ms"] = median(run.samples["refresh_ms"])
    m["segment_merge.merge_jobs"] = float(n_jobs(["segment_merge.merge_segments"]))

    times = layer_times(spans, jobs)
    for layer in LAYERS:
        self_s, outside_s = times.get(layer, (0.0, 0.0))
        m[f"{layer}.self_ms"] = self_s * 1e3
        m[f"{layer}.outside_jobs_ms"] = outside_s * 1e3
    m["trace.spans"] = float(len(spans))
    m["trace.time_assigned_jobs"] = float(sum(j.by_time for j in jobs))
    m["trace.bookkeeping_ms"] = tracer.bookkeeping_s * 1e3
    return m


# ---------------------------------------------------------------- main

def end_to_end(run: Run) -> dict[str, float]:
    from stats import median, tail

    s = run.samples
    return {
        # setup runs before the window; the run's median calib_ms stands for
        # the host's speed during it
        "setup_s": run.setup_s * CALIB_REF_MS / median(s["calib_ms"]),
        "peak_rss_mb": run.peak_rss_mb,
        "local_p50_ms": median(s["local_ms@ref"]),
        "local_p90_cpu_ms": tail(s["local_cpu_ms@ref"], 90),
        "topk_cpu_ms": median(s["topk_cpu_ms@ref"]),
        "index_bytes_per_input_byte": run.index_bytes_per_input_byte,
    }


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    before = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = before
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import NullTracer, Tracer, harvest_jobs

    mach = machine()
    out_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    # python workers inherit the JVM's environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = scratch
    # every JVM (the launcher's too) would otherwise keep a perf-counter
    # file in the system temp dir; a run writes only inside its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    steal0 = steal_ticks()

    tracer = Tracer() if args.trace else NullTracer()
    ledger = Ledger()
    run = Run(args, tracer, ledger)
    saved = install_spans(tracer) if args.trace else []
    try:
        with tracer.span("bench.setup"):
            run.setup(scratch, mach)
        run.setup_s = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        with tracer.span("bench.read"):
            run.read_window(t0 + args.seconds)
        t1 = time.perf_counter()
        if not run.commit_in_setup:
            run.oracle_check()
        rss = peak_rss_mb()
        run.peak_rss_mb = sum(rss.values())
        run.index_bytes_per_input_byte = dir_bytes(run.idx) / run.input_bytes()
        run.props.update(run.inputs.stream_properties(run.sent, run.prewarmed))
        if args.trace:
            with tracer.span("bench.receipts"):
                run.receipts()
        t2 = time.perf_counter()
        run.gc_ms = run.jvm_gc_ms() - run.gc0
        if args.trace:
            jobs, stages = harvest_jobs(run.spark.sparkContext, tracer)
            for j in jobs:
                if j.span is None:
                    ledger.fail(f"job {j.id} ran outside every span")
            metrics = per_layer(run, tracer, jobs, stages)
            kind = "per_layer"
        else:
            metrics = end_to_end(run)
            kind = "end_to_end"
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(scratch, ignore_errors=True)

    units = declared(kind)
    missing = sorted(set(units) - set(metrics))
    extra = sorted(set(metrics) - set(units))
    if missing or extra:
        raise SystemExit(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "machine": mach, "steal_ticks": steal_ticks() - steal0,
        "wall_s": time.perf_counter() - T_PROCESS,
        "cycles": len(run.sent) // run.inputs.CYCLE,
        "peak_rss_mb_by_pid": {str(k): round(v, 1) for k, v in rss.items()},
        "calib_ms": statistics.median(run.samples["calib_ms"]),
        "layer": run.layer,
        "phase_s": {"setup": run.setup_s, "read": t1 - t0, "after_read": t2 - t1,
                    "teardown": time.perf_counter() - t2},
        "samples": {k: len(v) for k, v in run.samples.items()},
        "series_ms": {k: [round(v, 3) for v in run.samples[k]]
                      for k in ("local_ms", "topk_ms", "local_cpu_ms", "topk_cpu_ms")},
        "inputs": run.props,
    }
    if args.trace:
        record["end_to_end"] = end_to_end(run)
        record["spans_file"] = write_spans(out_dir, args, tracer, jobs)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": not ledger.failures,
        "attempted": ledger.attempted,
        "failed": len(ledger.failures),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


def write_spans(out_dir: str, args, tracer, jobs) -> str:
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
    doc = {
        "spans": [{"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                   "start": s.start, "end": s.end, "jobs": s.jobs} for s in tracer.spans],
        "jobs": [{"id": j.id, "span": j.span, "start": j.start, "end": j.end,
                  "stages": j.stages, "tasks": j.tasks} for j in jobs],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
