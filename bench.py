"""Benchmark harness. Prints the full detail JSON line, then a COMPACT
summary JSON line LAST (the driver-parseable record — r3's single grown
line outran the driver's tail window and recorded `parsed: null`); the
full detail also lands in BENCH_DETAIL.json.

Sections (each timed workload runs in its OWN subprocess/JVM — round-4
post-mortem: a 500k-doc engine session leaves JVM residue that taxed the
catalog's checkpoint-heavy queries 2-4x even after unpersist):

  1. index_build — the same index build (synthetic code corpus, staged
     to parquet once, untimed) at local[N] and local[4N], each in a
     FRESH subprocess/JVM: docs/sec at both + scaling efficiency
     throughput(4N) / (4 * throughput(N)) — the sandbox stand-in for the
     north rule's N-vs-4N-executor criterion (BASELINE.md §2).

     Measurement protocol (round-5, after two rounds where the driver
     record was weather-poisoned — r4: every local[8] trial ran ~1.9x
     slow under co-tenant steal that the single-cpu meter saw as only
     10-25%, because the thief squats PARTICULAR vCPUs and a 17-cpu
     footprint cannot dodge them by blind rotation):
       a. VIRTUAL EXECUTORS — each run is pinned with ``taskset`` to
          2 CPUs per task slot (one JVM task thread + one python
          worker), so local[N] is genuinely N-slot-resource-constrained.
       b. PER-CPU PROBING — immediately before EVERY build, a ~7s
          sweep burns 0.2s on each cpu and ranks them; the build pins
          to the CLEANEST cpus and the steal meter to the next-cleanest
          — the run dodges squatted vCPUs instead of rotating into them.
       c. STEAL METER — a single-thread numpy loop runs CONCURRENTLY
          with every build on a probed-clean cpu outside the build's
          set; its rate over the exact build window detects steal that
          ARRIVES during the run. Each wall is normalized by
          meter_rate / best_rate.
       d. WEATHER GATE (r4 'what's wrong' #1) — a PAIR is CLEAN iff
          both trials' meter rates are within GATE_TRIAL of the session
          best AND within GATE_SPREAD of each other. Dirty pairs are
          retried (budget $BENCH_SCALING_RETRIES, default 4); the
          HEADLINE ``scaling_efficiency`` uses clean trials only, with
          the ungated number reported alongside as
          ``scaling_efficiency_raw`` and per-trial receipts in
          BENCH_DETAIL.json.
       e. Estimator: ratio of MIN normalized walls over clean trials —
          external contamination is strictly additive, so the fastest
          clean trial is the best estimate of the true wall.
  2. bm25 — warm segment-index top-k latency over the fixed reference
     query set (p50/p95 ms): wand/auto distributed scorers, the
     driver-local tier, and the batched one-job path (min of 3 with a
     meter receipt — r4 task #7), in a fresh subprocess.
  3. queries — ALL catalog queries at $SPARK_GRAFT_SF_DIR in a fresh
     subprocess, with per-query storage-bytes and JVM-GC-time receipts
     and a checkpoint-block release between queries (r4 task #2), plus
     a fresh-single-session re-measurement of the worst checkpoint-heavy
     query (ft_lsh_pairs) recorded alongside its in-catalog wall.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the machine's cores),
     BENCH_CORPUS_DOCS (default 500000),
     BENCH_LOW_CORES (default 2), BENCH_TRIALS (default 5),
     BENCH_SCALING_RETRIES (default 4), BENCH_SCALING_WALL_BUDGET
     (default 3000 s — the scaling loop stops launching pairs past
     this, whatever the clean count: under heavy co-tenancy a 2-core
     500k-doc build can take 8-10 min, and 5+4 such pairs would
     otherwise blow through the whole bench window and truncate the
     artifact, the r3 failure mode at section scale. The budget trades
     against the MIN estimator: fewer pairs = the min wall may not
     have sampled a clean window — the dress-run receipts show lo
     walls 192->624 s at IDENTICAL utilization and near-clean meters,
     so only min-over-many-pairs defends against the invisible
     component of co-tenancy).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from data_prep_opensearch_spark.session import spark_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = spark_cores()
CORPUS_DOCS = int(os.environ.get("BENCH_CORPUS_DOCS", "500000"))
LOW = int(os.environ.get("BENCH_LOW_CORES", "2"))
TRIALS = int(os.environ.get("BENCH_TRIALS", "5"))
RETRIES = int(os.environ.get("BENCH_SCALING_RETRIES", "4"))
WALL_BUDGET = float(os.environ.get("BENCH_SCALING_WALL_BUDGET", "3000"))
CPUS_PER_SLOT = 2  # 1 JVM task thread + 1 python worker per task slot
GATE_TRIAL = 0.88   # trial clean iff meter_rate >= this x session best
GATE_SPREAD = 0.12  # pair clean iff |r_lo - r_hi| / max <= this
N_SHARDS = 128  # corpus-determined, NOT core-count-determined: docIDs and
                # the index must be identical at every parallelism.
                # 128 (not 32): the docID window shuffle hash-partitions
                # the SHARD column, so with shards == partitions the
                # balls-into-bins collisions leave ~40% of partitions
                # empty and hand one task 3 shards — a tokenize-stage
                # straggler that capped measured 2->8-slot scaling at
                # ~0.5. At 4x-partitions-per-shard granularity the
                # collision skew averages out and the stage packs evenly
                # at every slot count.

# ALL catalog entries run in the bench headline (r4 task #8: every
# sub-5s catalog entry covered so regressions surface in BENCH, not just
# CORRECTNESS). Resolved lazily so `bench.py --help`-style invocations
# don't pay the package import.
def _headline() -> list[str]:
    from data_prep_opensearch_spark.plans.queries import REGISTRY

    return list(REGISTRY)


def _warm_workers(spark, cores: int) -> None:
    """One-time python-worker spawn + pandas/pyarrow import storm — paid
    before t0 so throughput reflects steady state, not environment setup."""
    import pandas as pd

    def warm(batches):
        import numpy  # noqa: F401
        import pyarrow.compute  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"x": [1]})

    spark.range(0, cores * 2, 1, cores * 2).mapInPandas(warm, "x long").count()


# Dual-phase steal meter. The round-4/5 post-mortem showed clean-meter
# low-level builds varying 151->377 s across sessions: the original
# 1.6 MB (L2-resident) sqrt loop measures cpu-cycle steal but is BLIND
# to DRAM-bandwidth co-tenancy, which hits a shuffle-heavy build hard.
# Phase A keeps the cache-resident loop (cpu steal); phase B streams a
# 64 MB copy (memory-bandwidth steal). A trial must be clean on BOTH.
_METER_CODE = r"""
import json, signal, sys, time
import numpy as np
stop = [False]
signal.signal(signal.SIGTERM, lambda *a: stop.__setitem__(0, True))
small = np.arange(200_000, dtype=np.float64)
big_a = np.arange(8_000_000, dtype=np.float64)   # 64 MB source
big_b = np.empty_like(big_a)
for _ in range(20):                       # warm caches before t0
    small = np.sqrt(small * 1.0000001 + 1.0)
np.copyto(big_b, big_a)
cpu_iters = mem_passes = 0
cpu_wall = mem_wall = 0.0
t0 = time.monotonic()
while not stop[0]:
    t = time.monotonic()
    while time.monotonic() - t < 0.2 and not stop[0]:
        small = np.sqrt(small * 1.0000001 + 1.0)
        cpu_iters += 1
    cpu_wall += time.monotonic() - t
    if stop[0]:
        break
    t = time.monotonic()
    np.copyto(big_b, big_a)
    big_b[0] += small[0]
    mem_passes += 1
    mem_wall += time.monotonic() - t
print(json.dumps({"cpu_iters": cpu_iters, "cpu_wall": cpu_wall,
                  "mem_passes": mem_passes, "mem_wall": mem_wall,
                  "wall": time.monotonic() - t0}), flush=True)
"""

# per-cpu probe: burn ~0.2s pinned to EACH cpu, print {cpu: rate}. The
# co-tenant on this VM squats particular vCPUs (r4: every local[8]
# trial ~1.9x slow while low trials on other cpus ran clean), so the
# scaling section CHOOSES its cpu set by measured cleanliness instead
# of rotating blindly into the squat.
_PROBE_CODE = r"""
import json, os, time
import numpy as np
n = os.cpu_count() or 1
rates = {}
base = np.arange(120_000, dtype=np.float64)
for cpu in range(n):
    try:
        os.sched_setaffinity(0, {cpu})
    except OSError:
        continue
    a = base.copy()
    for _ in range(8):
        a = np.sqrt(a * 1.0000001 + 1.0)
    iters, t0 = 0, time.monotonic()
    while time.monotonic() - t0 < 0.18:
        a = np.sqrt(a * 1.0000001 + 1.0)
        iters += 1
    rates[cpu] = iters / max(time.monotonic() - t0, 1e-9)
print(json.dumps(rates))
"""


def probe_cpu_rates() -> dict[int, float]:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE_CODE],
        capture_output=True, text=True, timeout=180,
    )
    m = json.loads(out.stdout.strip().splitlines()[-1])
    return {int(k): float(v) for k, v in m.items()}


def build_once_subprocess(
    cores: int, n_docs: int, src_dir: str, positions: bool = True
) -> tuple[float, float, float | None, float | None]:
    """Run one timed build in a fresh process/JVM (session churn inside
    one JVM contaminates timings), pinned to CPUS_PER_SLOT x cores CPUs
    so the run is a faithful N-slot 'virtual executor' (docstring a).
    The cpu set is CHOSEN by an immediately-preceding per-cpu probe —
    cleanest cpus to the build, next-cleanest to the concurrent steal
    meter (docstring b/c). Returns
    (wall_sec, cpu_meter_rate, mem_meter_rate, cpu_util) where cpu_util
    is the build tree's cpu-seconds over the timed window divided by
    wall x allocated-cpus — a receipt that attributes wall variance the
    meters cannot see (e.g. a serial phase vs external contention)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--build-once",
           str(cores), str(n_docs), src_dir]
    if not positions:
        cmd.append("nopos")
    meter_cmd = [sys.executable, "-c", _METER_CODE]
    have_taskset = bool(shutil.which("taskset"))
    n_machine = os.cpu_count() or 1
    if have_taskset:
        n_cpus = min(CPUS_PER_SLOT * cores, max(n_machine - 1, 1))
        try:
            ranked = sorted(probe_cpu_rates().items(), key=lambda kv: -kv[1])
            order = [c for c, _ in ranked]
        except Exception:
            order = list(range(n_machine))
        cpus = order[:n_cpus]
        meter_cpu = order[n_cpus] if len(order) > n_cpus else order[-1]
        cmd = ["taskset", "-c", ",".join(map(str, cpus))] + cmd
        meter_cmd = ["taskset", "-c", str(meter_cpu)] + meter_cmd
    meter = subprocess.Popen(meter_cmd, stdout=subprocess.PIPE, text=True)
    try:
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, timeout=3600,
        )
    finally:
        meter.terminate()
    m_out, _ = meter.communicate(timeout=60)
    m = json.loads(m_out.strip().splitlines()[-1])
    cpu_rate = m["cpu_iters"] / max(m["cpu_wall"], 1e-9)
    mem_rate = (m["mem_passes"] / m["mem_wall"]) if m.get("mem_wall") else None
    wall = cpu_sec = None
    for line in out.stdout.splitlines():
        if line.startswith("WALL "):
            wall = float(line.split()[1])
        elif line.startswith("CPUSEC "):
            cpu_sec = float(line.split()[1])
    if wall is None:
        raise RuntimeError(f"build subprocess failed: {out.stderr[-2000:]}")
    n_alloc = min(CPUS_PER_SLOT * cores, max(n_machine - 1, 1))
    util = (cpu_sec / (wall * n_alloc)) if cpu_sec is not None else None
    return wall, cpu_rate, mem_rate, util


# streaming meter for the query/bm25 sections: prints (wall-clock,
# iters) samples so the parent can compute the steal rate in ANY window
_METER_STREAM_CODE = r"""
import json, signal, sys, time
import numpy as np
stop = [False]
signal.signal(signal.SIGTERM, lambda *a: stop.__setitem__(0, True))
a = np.arange(200_000, dtype=np.float64)
for _ in range(20):
    a = np.sqrt(a * 1.0000001 + 1.0)
iters, last = 0, time.time()
print(json.dumps({"t": time.time(), "iters": 0}), flush=True)
while not stop[0]:
    a = np.sqrt(a * 1.0000001 + 1.0)
    iters += 1
    now = time.time()
    if now - last >= 0.25:
        print(json.dumps({"t": now, "iters": iters}), flush=True)
        last = now
"""


class _StreamMeter:
    """Steal meter for the query sections. Pins to the LAST cpu; the
    bench process (and the query JVM it spawns) is affined to the
    remaining cpus, so the meter measures EXTERNAL contention, not our
    own Spark load. Cost: one of 32 cpus (~3%)."""

    def __init__(self) -> None:
        import threading

        self.samples: list[tuple[float, int]] = []
        self.proc = None
        self._thread: threading.Thread | None = None
        n = os.cpu_count() or CPUS
        self.meter_cpu: int | None = n - 1 if n >= 4 else None
        if self.meter_cpu is None or not shutil.which("taskset"):
            self.meter_cpu = None
            return
        try:
            os.sched_setaffinity(0, set(range(n - 1)))
        except (AttributeError, OSError):
            self.meter_cpu = None
            return
        self.proc = subprocess.Popen(
            ["taskset", "-c", str(self.meter_cpu), sys.executable, "-c",
             _METER_STREAM_CODE],
            stdout=subprocess.PIPE, text=True,
        )

        def reader():
            for line in self.proc.stdout:
                try:
                    m = json.loads(line)
                    self.samples.append((float(m["t"]), int(m["iters"])))
                except Exception:
                    pass

        self._thread = threading.Thread(target=reader, daemon=True)
        self._thread.start()

    def rate(self, t0: float, t1: float) -> float | None:
        """Mean meter iterations/sec inside wall-clock window [t0, t1]."""
        inside = [s for s in self.samples if t0 <= s[0] <= t1]
        if len(inside) < 2:
            return None
        (ta, ia), (tb, ib) = inside[0], inside[-1]
        return (ib - ia) / (tb - ta) if tb > ta else None

    def stop(self) -> None:
        if self.proc is not None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except Exception:
                self.proc.kill()
        if self._thread is not None:
            self._thread.join(timeout=5)
        n = os.cpu_count() or CPUS
        try:
            os.sched_setaffinity(0, set(range(n)))
        except (AttributeError, OSError):
            pass


def _tree_cpu_sec() -> float:
    """user+sys cpu-seconds of this process and every LIVE descendant
    (the pyspark JVM gateway and python workers are children that stay
    alive until exit, so RUSAGE_CHILDREN alone misses them). Sampled at
    t0/t1 around the timed build; the delta over wall x ncpus is the
    utilization receipt."""
    import resource

    me = os.getpid()
    hz = os.sysconf("SC_CLK_TCK")
    entries = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        # rest[1]=ppid, rest[11]=utime, rest[12]=stime (man proc(5))
        entries.append((int(p), int(rest[1]), int(rest[11]) + int(rest[12])))
    pids = {me}
    grew = True
    while grew:
        grew = False
        for pid, ppid, _ in entries:
            if ppid in pids and pid not in pids:
                pids.add(pid)
                grew = True
    live = sum(t for pid, _, t in entries if pid in pids and pid != me) / hz
    ru = resource.getrusage(resource.RUSAGE_SELF)
    rc = resource.getrusage(resource.RUSAGE_CHILDREN)
    return live + ru.ru_utime + ru.ru_stime + rc.ru_utime + rc.ru_stime


def _scratch_root() -> str:
    """RAM-backed scratch when available: the scaling measurement is of
    the ENGINE's compute, and this VM's /tmp disk shows multi-x latency
    bursts under co-tenant IO that a cpu steal-meter cannot see. tmpfs
    takes the disk out of the measured quantity."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _build_once_main(cores: int, n_docs: int, src_dir: str,
                     positions: bool = True) -> None:
    from data_prep_opensearch_spark.operators.index_build import build_index
    from data_prep_opensearch_spark.session import get_spark

    # shuffle granularity must scale WITH the slot count (4 waves of
    # equal-size tasks): a fixed 8 partitions makes local[8] one
    # straggler-bound wave while local[2] averages over 4 waves — that
    # alone cost ~2x at the high level (round-2 probe)
    scratch = tempfile.mkdtemp(prefix="bench_spark_local_", dir=_scratch_root())
    spark = get_spark(app_name=f"bench_build_{cores}", cores=cores,
                      shuffle_partitions=max(4 * cores, 8),
                      extra_conf={"spark.local.dir": scratch})
    _warm_workers(spark, cores)
    d = tempfile.mkdtemp(prefix=f"bench_idx_{cores}_", dir=_scratch_root())
    try:
        src = spark.read.parquet(src_dir)
        c0 = _tree_cpu_sec()
        t0 = time.monotonic()
        build_index(spark, src, d, n_shards=N_SHARDS, n_groups=1,
                    positions=positions)
        wall = time.monotonic() - t0
        print(f"WALL {wall:.3f}")
        print(f"CPUSEC {_tree_cpu_sec() - c0:.1f}")
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


def _cached_bytes(spark) -> int:
    """Executor storage-memory occupancy (bytes of cached RDD/checkpoint
    blocks) — recorded per query so residue is attributable."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() for i in infos))
    except Exception:
        return -1


def _gc_time_ms(spark) -> int:
    """Cumulative JVM GC milliseconds (all collectors, driver JVM =
    every executor thread in local mode)."""
    try:
        beans = (spark.sparkContext._jvm.java.lang.management
                 .ManagementFactory.getGarbageCollectorMXBeans())
        return int(sum(b.getCollectionTime() for b in beans))
    except Exception:
        return -1


def _release_checkpoints(spark) -> int:
    """Release dead cached/checkpoint blocks between catalog queries
    (r4 task #2: `localCheckpoint` blocks from dedup/similarity queries
    are lineage-truncated and cannot be unpersisted WHILE live, but once
    the query's DataFrame is dropped they are garbage — a python GC
    releases the py4j handles, a JVM GC lets ContextCleaner reap the
    blocks). Returns cached bytes remaining after the sweep."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    time.sleep(0.3)  # ContextCleaner drains asynchronously
    return _cached_bytes(spark)


# ---------------------------------------------------------------------------
# Section 1: scaling (weather-gated)
# ---------------------------------------------------------------------------

def _run_scaling_section(corpus_dir: str) -> dict:
    high = LOW * 4
    pairs: list[dict] = []
    attempts = 0

    def run_pair(flip: bool) -> dict:
        order = [("lo", LOW), ("hi", high)]
        if flip:
            order.reverse()
        rec: dict = {}
        for tag, cores in order:
            wall, cpu_rate, mem_rate, util = build_once_subprocess(
                cores, CORPUS_DOCS, corpus_dir)
            rec[f"{tag}_wall"] = wall
            rec[f"{tag}_rate"] = cpu_rate
            rec[f"{tag}_mem"] = mem_rate
            rec[f"{tag}_util"] = util
        return rec

    def _bests() -> tuple[float, float | None]:
        best_cpu = max(r for p in pairs for r in (p["lo_rate"], p["hi_rate"]))
        mems = [p[k] for p in pairs for k in ("lo_mem", "hi_mem")
                if p.get(k) is not None]
        return best_cpu, (max(mems) if mems else None)

    def _is_clean(p: dict, best_cpu: float, best_mem: float | None) -> bool:
        # clean on BOTH instruments: cpu-cycle steal AND memory-bandwidth
        # steal (the r4/r5 post-mortem: clean-cpu-meter lo walls varied
        # 1.5x because the L2-resident loop cannot see DRAM co-tenancy)
        def ok(lo: float | None, hi: float | None, best: float | None) -> bool:
            if lo is None or hi is None or best is None:
                return True  # instrument unavailable -> cannot gate on it
            spread = abs(lo - hi) / max(lo, hi)
            return min(lo, hi) >= GATE_TRIAL * best and spread <= GATE_SPREAD
        return (ok(p["lo_rate"], p["hi_rate"], best_cpu)
                and ok(p.get("lo_mem"), p.get("hi_mem"), best_mem))

    # run until TRIALS provisionally-clean pairs exist or the retry
    # budget is spent; dirty pairs stay on the record (receipts) but a
    # dirty pair earns an extra attempt instead of consuming a trial
    t0 = time.monotonic()
    budget_hit = False
    while attempts < TRIALS + RETRIES:
        rec = run_pair(flip=attempts % 2 == 1)
        attempts += 1
        pairs.append(rec)
        best_cpu, best_mem = _bests()
        if sum(1 for p in pairs if _is_clean(p, best_cpu, best_mem)) >= TRIALS:
            break
        if time.monotonic() - t0 > WALL_BUDGET:
            # co-tenant weather can stretch one low-level build to
            # ~10 min; finishing the artifact beats chasing clean pairs
            budget_hit = True
            break

    # final gate against the FINAL session best (early pairs judged
    # clean against a then-stolen best get re-marked here)
    best_cpu, best_mem = _bests()
    best = best_cpu
    for p in pairs:
        p["clean"] = _is_clean(p, best_cpu, best_mem)

    def norm(w: float, r: float) -> float:
        return w * (r / best)

    def eff_from(ps: list[dict]) -> tuple[float, float, float] | None:
        if not ps:
            return None
        t_lo = min(norm(p["lo_wall"], p["lo_rate"]) for p in ps)
        t_hi = min(norm(p["hi_wall"], p["hi_rate"]) for p in ps)
        return (CORPUS_DOCS / t_hi) / ((high / LOW) * (CORPUS_DOCS / t_lo)), t_lo, t_hi

    clean = [p for p in pairs if p["clean"]]
    raw = eff_from(pairs)
    gated = eff_from(clean)
    headline = gated if gated is not None else raw
    eff, t_lo, t_hi = headline
    sanity_note = None
    if eff > 1.05:
        # efficiency over unity is non-physical: the LOW-parallelism min
        # wall never sampled a weather-clean window (steal on the
        # build's own cpus is invisible to both meters AND the
        # utilization receipt — see BENCH_DETAIL trials). The criterion
        # direction (>= 0.8) is still evidenced; flag the record.
        sanity_note = (
            f"efficiency > 1 is non-physical: lo-level min wall "
            f"weather-inflated across only {len(pairs)} pairs; "
            "raise BENCH_SCALING_WALL_BUDGET for a converged min")

    # positional-stream attribution receipt (round 5 stores pos_bytes by
    # default — INDEX_FORMAT_VERSION 4): ONE extra high-level build
    # without positions quantifies the throughput cost of the phrase
    # stream, so an r4->r5 docs/sec delta on the record is attributed to
    # the feature rather than read as a regression
    try:
        np_wall, np_rate, _, _ = build_once_subprocess(
            high, CORPUS_DOCS, corpus_dir, positions=False)
        np_norm = norm(np_wall, np_rate)
        nopos = {
            "hi_wall_nopos": round(np_wall, 1),
            "hi_wall_nopos_normalized": round(np_norm, 2),
            "positions_overhead_pct": round(100.0 * (t_hi / np_norm - 1), 1),
            "note": "builds above store the positional (phrase) stream; "
                    "overhead = normalized hi-level wall with positions "
                    "vs this one without",
        }
    except Exception as exc:  # receipt only — never sink the section
        nopos = {"error": str(exc)[:300]}
    pair_eff = [
        norm(p["lo_wall"], p["lo_rate"])
        / ((high / LOW) * norm(p["hi_wall"], p["hi_rate"]))
        for p in pairs
    ]
    return {
        "docs": CORPUS_DOCS,
        "wall_budget_hit": budget_hit,
        "scaling_wall_sec": round(time.monotonic() - t0, 1),
        "scaling_sanity_note": sanity_note,
        "protocol": (
            f"taskset {CPUS_PER_SLOT}cpu/slot virtual executors on "
            f"per-cpu-probe-chosen clean sets; up to {TRIALS}+{RETRIES} "
            f"interleaved pairs; concurrent DUAL steal-meter (L2 cpu loop "
            f"+ 64MB DRAM stream); weather gate on BOTH instruments "
            f"(trial>= {GATE_TRIAL}xbest, pair spread<= {GATE_SPREAD}); "
            "efficiency from min cpu-normalized CLEAN walls; per-trial "
            "cpu-utilization receipts"
        ),
        f"local{LOW}_sec": round(t_lo, 2),
        f"local{high}_sec": round(t_hi, 2),
        f"local{LOW}_docs_per_sec": round(CORPUS_DOCS / t_lo, 1),
        f"local{high}_docs_per_sec": round(CORPUS_DOCS / t_hi, 1),
        "trials": [
            {
                "lo_wall": round(p["lo_wall"], 1),
                "hi_wall": round(p["hi_wall"], 1),
                "lo_rate": round(p["lo_rate"], 1),
                "hi_rate": round(p["hi_rate"], 1),
                "lo_mem": (round(p["lo_mem"], 2)
                           if p.get("lo_mem") is not None else None),
                "hi_mem": (round(p["hi_mem"], 2)
                           if p.get("hi_mem") is not None else None),
                "lo_util": (round(p["lo_util"], 3)
                            if p.get("lo_util") is not None else None),
                "hi_util": (round(p["hi_util"], 3)
                            if p.get("hi_util") is not None else None),
                "clean": p["clean"],
            }
            for p in pairs
        ],
        "pair_efficiencies": [round(e, 3) for e in pair_eff],
        "pair_efficiency_median": round(statistics.median(pair_eff), 3),
        "pair_efficiency_median_clean": (
            round(statistics.median(
                [e for e, p in zip(pair_eff, pairs) if p["clean"]]), 3)
            if clean else None
        ),
        "pairs_run": len(pairs),
        "pairs_clean": len(clean),
        "scaling_efficiency_raw": round(raw[0], 3),
        "scaling_efficiency_gated": (
            round(gated[0], 3) if gated is not None else None
        ),
        "scaling_efficiency": round(eff, 3),
        "gate_note": (
            "headline = gated (clean pairs only)" if gated is not None
            else "NO clean pair within the retry budget; headline = raw"
        ),
        "positions_receipt": nopos,
    }


# ---------------------------------------------------------------------------
# Section 2: bm25 latency tiers (subprocess entry: --bm25)
# ---------------------------------------------------------------------------

def _bm25_main(corpus_dir: str) -> None:
    from data_prep_opensearch_spark.operators.bm25 import BM25Engine
    from data_prep_opensearch_spark.operators.index_build import (
        build_index,
        sort_segments,
    )
    from data_prep_opensearch_spark.oracle import reference_query_set
    from data_prep_opensearch_spark.session import get_spark

    meter = _StreamMeter()  # affines us to cpus 0..n-2 BEFORE the JVM spawns
    scratch = tempfile.mkdtemp(prefix="bench_bm25_", dir=_scratch_root())
    spark = get_spark(app_name="bench_bm25", cores=CPUS,
                      extra_conf={"spark.local.dir": scratch})
    _warm_workers(spark, CPUS)
    idx_dir = tempfile.mkdtemp(prefix="bench_qidx_", dir=_scratch_root())
    result: dict = {"corpus_docs": CORPUS_DOCS}
    engine = None
    try:
        build_index(spark, spark.read.parquet(corpus_dir), idx_dir,
                    n_shards=N_SHARDS, n_groups=1)
        sort_segments(spark, idx_dir)
        engine = BM25Engine(spark, idx_dir, cache=True)
        # one untimed warmup pass resolves each query's term dfs into
        # the dictionary cache (a warm engine's steady state)
        for q in reference_query_set():
            engine.topk(q["query"], q["k"], scorer="dense").collect()
        for scorer in ("wand", "auto"):
            lat_ms = []
            w0 = time.time()
            for q in reference_query_set():
                reps = []
                for _ in range(2):
                    t0 = time.monotonic()
                    engine.topk(q["query"], q["k"], scorer=scorer).collect()
                    reps.append((time.monotonic() - t0) * 1000)
                lat_ms.append(min(reps))
            rate = meter.rate(w0, time.time())
            ls = sorted(lat_ms)
            result[scorer] = {
                "n_queries": len(ls),
                "p50_ms": round(statistics.median(ls), 1),
                "p95_ms": round(ls[int(0.95 * (len(ls) - 1))], 1),
                "meter_rate": round(rate, 1) if rate is not None else None,
            }
        # driver-local latency tier: zero Spark jobs warm; min of 2 —
        # rep 1 of each query pays the one-off cold fetch
        lat_local, lat_local_pd = [], []
        for q in reference_query_set():
            reps, reps_pd = [], []
            for _ in range(2):
                t0 = time.monotonic()
                engine.topk_local(q["query"], q["k"]).collect()
                reps.append((time.monotonic() - t0) * 1000)
                t0 = time.monotonic()
                engine.topk_local(q["query"], q["k"], as_pandas=True)
                reps_pd.append((time.monotonic() - t0) * 1000)
            lat_local.append(min(reps))
            lat_local_pd.append(min(reps_pd))
        for tag, lat in (("local", lat_local), ("local_pd", lat_local_pd)):
            ls = sorted(lat)
            result[tag] = {
                "n_queries": len(ls),
                "p50_ms": round(statistics.median(ls), 1),
                "p95_ms": round(ls[int(0.95 * (len(ls) - 1))], 1),
            }
        # batched path: all reference queries in ONE Spark job. Min of 3
        # timed reps WITH a meter receipt (r4 task #7: 47->281 ms/q
        # across records was weather, unattributed)
        qs = [q["query"] for q in reference_query_set()]
        kk = max(q["k"] for q in reference_query_set())
        engine.topk_batch(qs, kk, scorer="auto").collect()  # untimed warm
        batch_walls, batch_rates = [], []
        for _ in range(3):
            w0 = time.time()
            t0 = time.monotonic()
            engine.topk_batch(qs, kk, scorer="auto").collect()
            batch_walls.append(time.monotonic() - t0)
            batch_rates.append(meter.rate(w0, time.time()))
        best = min(range(3), key=lambda i: batch_walls[i])
        result["batch"] = {
            "n_queries": len(qs),
            "ms_per_query": round(batch_walls[best] * 1000 / len(qs), 1),
            "wall_sec": round(batch_walls[best], 3),
            "meter_rate": (round(batch_rates[best], 1)
                           if batch_rates[best] is not None else None),
            "walls_sec": [round(w, 3) for w in batch_walls],
        }
        result["storage_bytes_end"] = _cached_bytes(spark)
    finally:
        if engine is not None:
            engine.unpersist()
        shutil.rmtree(idx_dir, ignore_errors=True)
        meter.stop()
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    print("BM25JSON " + json.dumps(result))


# ---------------------------------------------------------------------------
# Section 3: catalog queries (subprocess entry: --catalog)
# ---------------------------------------------------------------------------

def _catalog_main(sf_dir: str, only: list[str]) -> None:
    from data_prep_opensearch_spark.plans.queries import REGISTRY
    from data_prep_opensearch_spark.session import get_spark

    names = only or _headline()
    meter = _StreamMeter()
    scratch = tempfile.mkdtemp(prefix="bench_qlocal_", dir=_scratch_root())
    # RAM-backed spark.local.dir: shuffle spills on the sandbox disk see
    # co-tenant IO bursts a cpu meter can't (r3: 3-5x walls, clean meter)
    spark = get_spark(app_name="bench_queries", cores=CPUS,
                      extra_conf={"spark.local.dir": scratch})
    _warm_workers(spark, CPUS)

    # engine-backed queries build-and-cache a /tmp index on first touch
    # (keyed by package + index-format version). Warm them UNTIMED so
    # the timed number is "query a built index" — the build itself is
    # section 1's subject (r2->r3: a version bump once recorded a
    # one-off 15.8s cold build as the query wall).
    for name in ("ft_bm25_engine_topk", "ft_engine_latest_prune",
                 "ft_bm25_code_topk"):
        if name in names and name in REGISTRY:
            try:
                REGISTRY[name].fn(spark, sf_dir).count()
            except Exception:
                pass

    queries: dict[str, float] = {}
    queries_cold: dict[str, float] = {}
    query_meter: dict[str, float] = {}
    query_storage: dict[str, int] = {}
    query_gc_ms: dict[str, int] = {}
    total = 0.0
    for name in names:
        fn = REGISTRY[name].fn
        gc0 = _gc_time_ms(spark)
        walls, rates = [], []
        failed = False
        for _ in range(2):
            t0 = time.monotonic()
            w0 = time.time()
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:
                queries[name] = -1.0
                print(f"bench query {name} failed: {exc}", file=sys.stderr)
                failed = True
                break
            walls.append(time.monotonic() - t0)
            rates.append(meter.rate(w0, time.time()))
        if failed:
            continue
        # receipts: cached/checkpoint bytes the query left behind and
        # the JVM GC time its reps incurred (r4 task #2), then RELEASE
        # dead checkpoint blocks so they cannot tax the next query
        query_storage[name] = _cached_bytes(spark)
        query_gc_ms[name] = max(_gc_time_ms(spark) - gc0, -1)
        if query_storage[name] > 0:
            _release_checkpoints(spark)
        best = min(range(len(walls)), key=lambda i: walls[i])
        if rates[best] is not None:
            query_meter[name] = round(rates[best], 1)
        queries[name] = round(walls[best], 3)
        queries_cold[name] = round(walls[0], 3)
        total += walls[best]
    meter.stop()
    out = {
        "queries": queries,
        "queries_cold": queries_cold,
        "query_meter_rates": query_meter,
        "query_storage_bytes": {k: v for k, v in query_storage.items() if v},
        "query_gc_ms": query_gc_ms,
        "value": round(total, 3),
    }
    if query_meter:
        best = max(query_meter.values())
        out["queries_normalized"] = {
            n: round(queries[n] * (query_meter[n] / best), 3)
            for n in query_meter
            if queries.get(n, -1) > 0
        }
    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    print("CATALOGJSON " + json.dumps(out))


# the driver parses the LAST line of a 2000-char stdout tail window
COMPACT_BUDGET = 1900
# the compact line's fields outside the contract (metric, value, unit,
# sf, queries, and the gated headline scaling_efficiency), dropped in
# this order while it is over budget: the optional receipts, then the
# scaling pair count and the batch latency. All of them stay in
# BENCH_DETAIL.json
DROPPABLE = ("scaling_sanity_note", "bm25_p50_ms", "lsh_fresh_session_sec",
             "bm25_batch_meter_rate", "scaling_efficiency_raw", "detail",
             f"local{LOW * 4}_docs_per_sec", f"local{LOW}_sec", f"local{LOW * 4}_sec",
             "scaling_pairs_clean", "bm25_batch_ms_per_query")


def compact_line(summary: dict, budget: int = COMPACT_BUDGET) -> str:
    """``summary`` as one compact JSON line, the last one bench.py
    prints. Every query key is kept, its wall rounded to 1 dp (full
    precision is in BENCH_DETAIL.json and the detail line); while the
    line is over ``budget`` chars, the fields outside the contract are
    dropped in DROPPABLE order. The contract fields and
    ``scaling_efficiency`` are never dropped, so a catalog too large for
    the budget prints an over-budget line rather than a line without
    some of its keys."""
    summary = dict(summary, queries={k: round(v, 1) for k, v in summary["queries"].items()})
    if summary.get("scaling_sanity_note") is None:
        summary.pop("scaling_sanity_note", None)
    line = json.dumps(summary, separators=(",", ":"))
    for victim in DROPPABLE:
        if len(line) <= budget:
            break
        summary.pop(victim, None)
        line = json.dumps(summary, separators=(",", ":"))
    return line


def _sub_json(args: list[str], tag: str, timeout: int = 3600) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)] + args,
        capture_output=True, text=True, cwd=REPO, timeout=timeout,
    )
    for line in reversed(out.stdout.splitlines()):
        if line.startswith(tag + " "):
            return json.loads(line[len(tag) + 1:])
    raise RuntimeError(
        f"bench subprocess {args[0]} failed: {out.stderr[-2000:]}")


def main() -> None:
    result: dict = {"metric": "engine_bench_detail", "unit": "sec", "sf": SF_DIR}

    from data_prep_opensearch_spark.session import get_spark
    from data_prep_opensearch_spark.sources.corpus import corpus_df

    # stage the synthetic corpus to parquet ONCE (untimed): the engine's
    # input contract is a table scan, not a generator. RAM-backed
    # scratch keeps the sandbox disk out of the measurement.
    corpus_dir = os.path.join(_scratch_root(), f"bench_corpus_{CORPUS_DOCS}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        spark = get_spark(app_name="bench_prepare", cores=CPUS)
        corpus_df(spark, CORPUS_DOCS, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
        spark.stop()

    # --- 1. scaling: N vs 4N virtual executors, weather-gated ----------
    result["index_build"] = _run_scaling_section(corpus_dir)

    # --- 2. bm25 latency tiers (fresh subprocess/JVM) ------------------
    result["bm25"] = _sub_json(["--bm25", corpus_dir], "BM25JSON")

    # --- 3. catalog queries (fresh subprocess/JVM) ---------------------
    cat = _sub_json(["--catalog", SF_DIR], "CATALOGJSON")
    result.update({
        "queries": cat["queries"],
        "queries_cold": cat["queries_cold"],
        "query_meter_rates": cat["query_meter_rates"],
        "query_storage_bytes": cat["query_storage_bytes"],
        "query_gc_ms": cat["query_gc_ms"],
        "queries_normalized": cat.get("queries_normalized", {}),
        "value": cat["value"],
    })
    result["query_meter_note"] = (
        "meter pinned to last cpu, bench+JVM affined to the rest; "
        "rate = external-contention proxy per query window"
    )
    # fresh-single-session re-measurement of the checkpoint-heavy query
    # (r4 task #2 'done' criterion: in-catalog wall within 1.5x of a
    # fresh-session wall recorded alongside)
    try:
        fresh = _sub_json(["--catalog", SF_DIR, "ft_lsh_pairs"],
                          "CATALOGJSON", timeout=1200)
        result["lsh_fresh_session_sec"] = fresh["queries"].get("ft_lsh_pairs")
    except Exception as exc:
        print(f"fresh-session lsh re-measure failed: {exc}", file=sys.stderr)
        result["lsh_fresh_session_sec"] = None

    # Output protocol (r3 post-mortem: one grown JSON line outran the
    # driver's stdout tail window -> `parsed: null`). Three artifacts:
    #   1. BENCH_DETAIL.json — the full result, committed as a side file;
    #   2. the full detail line (metric engine_bench_detail), printed
    #      first — best-effort;
    #   3. a COMPACT summary as the LAST stdout line (compact_line):
    #      the driver contract fields (metric/value/unit/sf/queries) and
    #      the gated scaling_efficiency, always; the other scaling and
    #      latency receipts as far as the tail budget allows.
    ib = result["index_build"]
    high = LOW * 4
    summary = {
        "metric": "engine_bench",
        "value": result["value"],
        "unit": "sec",
        "sf": SF_DIR,
        "queries": result["queries"],
        "scaling_efficiency": ib.get("scaling_efficiency"),
        "scaling_efficiency_raw": ib.get("scaling_efficiency_raw"),
        "scaling_pairs_clean": f"{ib.get('pairs_clean')}/{ib.get('pairs_run')}",
        "scaling_sanity_note": ib.get("scaling_sanity_note"),
        f"local{LOW}_sec": ib.get(f"local{LOW}_sec"),
        f"local{high}_sec": ib.get(f"local{high}_sec"),
        f"local{high}_docs_per_sec": ib.get(f"local{high}_docs_per_sec"),
        "bm25_p50_ms": {
            s: result.get("bm25", {}).get(s, {}).get("p50_ms")
            for s in ("wand", "auto", "local", "local_pd")
        },
        "bm25_batch_ms_per_query": result.get("bm25", {})
        .get("batch", {})
        .get("ms_per_query"),
        "bm25_batch_meter_rate": result.get("bm25", {})
        .get("batch", {})
        .get("meter_rate"),
        "lsh_fresh_session_sec": result.get("lsh_fresh_session_sec"),
        "detail": "BENCH_DETAIL.json",
    }
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(result, f, indent=1)
    except OSError:
        pass
    print(json.dumps(result))
    print(compact_line(summary))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--build-once":
        _build_once_main(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4],
                         positions="nopos" not in sys.argv[5:])
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        # section 1 alone, against an already-staged corpus dir
        print("SCALINGJSON " + json.dumps(_run_scaling_section(sys.argv[2])))
    elif len(sys.argv) > 1 and sys.argv[1] == "--bm25":
        _bm25_main(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--catalog":
        _catalog_main(sys.argv[2], sys.argv[3:])
    else:
        main()
