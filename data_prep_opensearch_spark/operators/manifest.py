"""Manifest-pointer commits for the on-disk index layout.

The round-1 layout published changes with whole-directory ``os.replace``
swaps (segments.tmp -> segments). That is atomic on one POSIX filesystem
and NOWHERE else — object stores have no atomic directory rename. This
module replaces every directory swap with the pattern the reference uses
for its latest-pointer (pipeline/io.py:36-76 resolve-latest +
io.py:28-33 atomic_write_json): writers append NEW immutable parquet
directories, then commit by atomically rewriting ONE small JSON file
(``manifest.json``) that lists the live directories. A single small-file
replace is a PUT on object storage — the only atomic primitive needed.

Manifest format (all paths relative to index_dir):

    {
      "version": 3,
      "segments": [{"path": "seg_b0_g0", "gens": [0]}, ...],
      "doclens":  ["dl_b0_g0", "dl_delta_g1", "dl_delete_v5", ...],
      "doc_stats": ["staged/group=0/kind=1", ...]
    }

Semantics:
  - ``segments``: union of all listed dirs is the live segment table;
    ``gens`` records which posting generations a dir holds so the
    log-structured merge can retire exactly the dirs it consumed.
  - ``doclens``: ordered; a LATER entry overrides an EARLIER one per
    shard (delta adds and deletes re-encode only the shards they
    touched), and the publish that leaves a dir winning no shard drops
    and retires it (``add_doclens``). Each shard's row carries its doc
    lengths and its deleted doc ids, so a delete is one more doclens
    publish.
  - ``doc_stats``: unioned; vacuum replaces the whole list.

``meta.json`` (load_meta/save_meta, the same atomic replace) caches what
readers need up front: n_docs and avgdl (``refresh_corpus_stats``), the
shard count, tokenizer, positions flag and live generations.

Writers that re-run after a crash write to the SAME deterministic dir
name with mode("overwrite") and re-publish the same manifest entry —
commits are idempotent (the duplicate-append window flagged in round 1
is closed). Consumed dirs are RETIRED after the manifest swap: recorded
in the manifest's ``retired`` ledger and deleted only once they age past
$DPOSS_GC_GRACE_SEC (retire_paths/gc_retired), so on shared storage a
reader holding the previous manifest finishes its scan against dirs
that still exist.

Fallback: an index_dir with no manifest.json (hand-built test fixtures)
is read via the legacy flat directories (segments/, doclens/,
doc_stats/); ``adopt_legacy`` converts one in place so merge/sort/add
can manage it through the manifest path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST = "manifest.json"
META = "meta.json"


def _save_json(index_dir: str, name: str, obj: dict) -> None:
    """Atomic tmp+rename of one small JSON file (single-file atomic — the
    reference's atomic_write_json, pipeline/io.py:28-33)."""
    tmp = os.path.join(index_dir, name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, os.path.join(index_dir, name))


def load_manifest(index_dir: str) -> dict | None:
    p = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def save_manifest(index_dir: str, m: dict) -> None:
    _save_json(index_dir, MANIFEST, m)


def load_meta(index_dir: str) -> dict:
    """meta.json: n_docs, avgdl, n_shards, tokenizer, positions and live
    generations — a cache of the manifest and doc_stats."""
    with open(os.path.join(index_dir, META)) as f:
        return json.load(f)


def save_meta(index_dir: str, meta: dict) -> None:
    _save_json(index_dir, META, meta)


def refresh_corpus_stats(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    """Set ``meta``'s n_docs and avgdl from the live doc_stats (one Spark
    job) and return it."""
    row = read_doc_stats(spark, index_dir).select(
        F.count("*").alias("n"), F.avg("doclen").alias("a")
    ).collect()[0]
    meta["n_docs"] = int(row["n"])
    meta["avgdl"] = float(row["a"] or 0.0)
    return meta


def new_manifest() -> dict:
    return {"version": 0, "segments": [], "doclens": [], "doc_stats": []}


def update_manifest(index_dir: str, mutate) -> dict:
    """Read-modify-publish under the single-writer lock (locks.py)."""
    m = load_manifest(index_dir) or new_manifest()
    mutate(m)
    m["version"] = int(m.get("version", 0)) + 1
    save_manifest(index_dir, m)
    return m


def add_segment_entry(m: dict, rel: str, gens: list[int]) -> None:
    for e in m["segments"]:
        if e["path"] == rel:
            e["gens"] = sorted(set(e["gens"]) | set(gens))
            return
    m["segments"].append({"path": rel, "gens": sorted(gens)})


def add_unique(lst: list[str], rel: str) -> None:
    if rel not in lst:
        lst.append(rel)


def adopt_legacy(spark: SparkSession, index_dir: str) -> dict:
    """Wrap a legacy flat-directory index in a manifest (in place)."""
    m = new_manifest()
    seg_dir = os.path.join(index_dir, "segments")
    if os.path.exists(seg_dir):
        gens = sorted(
            int(r["gen"])
            for r in read_table(spark, "segments", seg_dir).select("gen").distinct().collect()
        )
        m["segments"].append({"path": "segments", "gens": gens})
    if os.path.exists(os.path.join(index_dir, "doclens")):
        m["doclens"].append("doclens")
    if os.path.exists(os.path.join(index_dir, "doc_stats")):
        m["doc_stats"].append("doc_stats")
    save_manifest(index_dir, m)
    return m


def _abs(index_dir: str, rel: str) -> str:
    return os.path.join(index_dir, rel)


def _segment_dirs(index_dir: str, m: dict | None) -> list[str]:
    if m is None:
        return [os.path.join(index_dir, "segments")]
    paths = [_abs(index_dir, e["path"]) for e in m["segments"]]
    if not paths:
        raise FileNotFoundError(f"no live segments in {index_dir}/{MANIFEST}")
    return paths


def read_table(spark: SparkSession, kind: str, *paths: str) -> DataFrame:
    """The index table ``kind`` ("segments", "doclens", "doc_stats" or
    "lineage") at ``paths``, read with its declared schema
    (``index_build.TABLE_SCHEMAS``), so the read runs no footer
    schema-inference job. Older layouts read through the same schemas: a
    column a dir lacks reads as null (``pos_bytes`` of an index built
    without positions, ``_gen`` of a doc_stats dir that predates it)."""
    from data_prep_opensearch_spark.operators.index_build import TABLE_SCHEMAS

    return spark.read.schema(TABLE_SCHEMAS[kind]).parquet(*paths)


def read_segments(spark: SparkSession, index_dir: str,
                  m: dict | None = None) -> DataFrame:
    """The live segment table. ``m``: a manifest the caller already
    loaded, so this frame and ``segment_files(index_dir, m)`` read the
    same snapshot (None loads it)."""
    if m is None:
        m = load_manifest(index_dir)
    return read_table(spark, "segments", *_segment_dirs(index_dir, m))


def segment_files(index_dir: str, m: dict | None) -> list[str]:
    """The parquet files behind ``read_segments`` for manifest ``m``
    (None: the legacy ``segments/`` dir), for driver-side reads. Hidden
    and ``_``-prefixed files are skipped, as Spark's listing skips them."""
    return sorted(
        os.path.join(d, f)
        for d in _segment_dirs(index_dir, m) for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _doc_stats_parts(spark: SparkSession, index_dir: str) -> list:
    """(rel, frame) per live doc_stats dir."""
    m = load_manifest(index_dir)
    rels = ["doc_stats"] if m is None else m["doc_stats"]
    if not rels:
        raise FileNotFoundError(f"no live doc_stats in {index_dir}/{MANIFEST}")
    return [(p, read_table(spark, "doc_stats", _abs(index_dir, p))) for p in rels]


def _union(parts: list[DataFrame]) -> DataFrame:
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def read_doc_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Union of live doc_stats dirs, without ``_gen``."""
    return _union([df for _, df in _doc_stats_parts(spark, index_dir)]).drop("_gen")


_DELTA_GEN = re.compile(r"delta_gen=(\d+)")


def read_doc_stats_with_gen(spark: SparkSession, index_dir: str) -> DataFrame:
    """doc_stats with a ``_gen`` column = the posting generation each row
    was indexed in (0 for the base build). The generation is recovered
    from the manifest entry's path (staged/delta_gen=K/kind=1); a
    vacuumed dir already carries ``_gen`` as a real column and keeps it.
    Used by the latest-version pruning policy (superseded_doc_ids)."""
    parts = []
    for rel, df in _doc_stats_parts(spark, index_dir):
        mm = _DELTA_GEN.search(rel)
        parts.append(df.withColumn("_gen", F.coalesce(
            "_gen", F.lit(int(mm.group(1)) if mm else 0))))
    return _union(parts)


def _live_doclens(index_dir: str) -> list[tuple[str, list[int]]]:
    """(path, shards it wins) per live doclens dir. A later manifest entry
    overrides an earlier one per shard; the override is resolved on the
    driver from each dir's ``shard`` column (no Spark job). An index that
    keeps its deletes in a format-4 ``tombstones`` table is refused:
    reading it without them would bring the deleted docs back."""
    tomb = os.path.join(index_dir, "tombstones")
    if os.path.exists(tomb):
        raise ValueError(f"{tomb}: deletes in the index format 4 layout are "
                         "not read by this version; rebuild the index")
    m = load_manifest(index_dir)
    rels = ["doclens"] if m is None else m["doclens"]
    if not rels:
        raise FileNotFoundError(f"no live doclens in {index_dir}/{MANIFEST}")
    return [(_abs(index_dir, rel), won) for rel, won in _winners(index_dir, rels)]


def _winners(index_dir: str, rels: list[str]) -> list[tuple[str, list[int]]]:
    """(rel, shards it wins) per dir of the ordered doclens list ``rels``
    that wins any shard, in list order."""
    out, taken = [], set()
    for rel in reversed(rels):
        held = set(_shards(_abs(index_dir, rel)).tolist())
        if held - taken:
            out.append((rel, sorted(held - taken)))
        taken |= held
    return out[::-1]


def add_doclens(m: dict, index_dir: str, rel: str) -> None:
    """Append ``rel`` to manifest ``m``'s ordered doclens list, and move
    the dirs it leaves winning no shard from the list to the ``retired``
    ledger, in the same publish: no read needs them. The caller's
    ``gc_retired`` after the publish deletes them."""
    add_unique(m["doclens"], rel)
    live = [r for r, _ in _winners(index_dir, m["doclens"])]
    _ledger(m, [r for r in m["doclens"] if r not in live])
    m["doclens"] = live


def read_doclens(spark: SparkSession, index_dir: str) -> DataFrame:
    """Live per-shard doclen sidecar, one row per shard with its masked
    ids in ``deleted`` (``read_table``)."""
    return _union([read_table(spark, "doclens", path).filter(
        F.col("shard").isin(won)) for path, won in _live_doclens(index_dir)])


def _live_rows(index_dir: str, columns: list[str]) -> pa.Table:
    """``columns`` of the live doclens rows, read on the driver (no Spark
    job); ``deleted`` reads null from a dir written without it."""
    schema = pa.schema([("shard", pa.int32()), ("dl_bytes", pa.binary()),
                        ("deleted", pa.list_(pa.int64()))])
    return pa.concat_tables([
        pads.dataset(path, format="parquet", schema=schema).to_table(
            columns=columns, filter=pads.field("shard").isin(won))
        for path, won in _live_doclens(index_dir)])


def deleted_count(index_dir: str) -> int:
    """How many doc ids the live doclens rows mask."""
    t = _live_rows(index_dir, ["deleted"])
    return pc.sum(pc.list_value_length(t["deleted"])).as_py() or 0


def allocated_slots(index_dir: str) -> dict[int, int]:
    """{shard: docID slots allocated}, from each live doclens row: its
    ``dl_bytes`` holds one VByte value per slot up to the highest doc
    offset encoded (``encode_doclens``), so the count is the bytes
    without a continuation bit. An add continues each shard there and a
    delete refuses ids at or above it."""
    t = _live_rows(index_dir, ["shard", "dl_bytes"])
    return {shard: int(np.count_nonzero(np.frombuffer(b, np.uint8) < 0x80))
            for shard, b in zip(t["shard"].to_pylist(), t["dl_bytes"].to_pylist())}


def _shards(path: str) -> np.ndarray:
    """The ``shard`` column of a doclens dir, read on the driver."""
    return pads.dataset(path, format="parquet").to_table(
        columns=["shard"])["shard"].to_numpy()


def write_doclens(frame: DataFrame, path: str) -> None:
    """Write a doclen sidecar dir for publishing and assert it holds one
    row per shard: ``read_doclens``' per-shard override and the engine's
    one sidecar row per shard rely on it. The check reads the written
    files' ``shard`` column on the driver (no Spark job)."""
    frame.write.mode("overwrite").parquet(path)
    vals, counts = np.unique(_shards(path), return_counts=True)
    if (counts > 1).any():
        raise ValueError(
            f"doclens {path} has several rows for shard(s) "
            f"{vals[counts > 1].tolist()}; the sidecar must hold one row "
            "per shard"
        )


def committed_gens(m: dict) -> set[int]:
    """Every generation the manifest has PUBLISHED: segment entries' gens
    plus doc_stats delta dirs (staged/delta_gen=K/...). The manifest is
    the commit record; meta.json is a derived cache — crash recovery in
    add_documents derives the next generation from this, never from meta,
    so a re-run after a crash between manifest publish and meta refresh
    cannot reuse (and overwrite) a committed generation's directories."""
    out: set[int] = set()
    for e in m["segments"]:
        out |= set(int(g) for g in e["gens"])
    for p in m["doc_stats"]:
        mm = _DELTA_GEN.search(p)
        if mm:
            out.add(int(mm.group(1)))
    for p in m["doclens"]:
        mm = re.search(r"dl_delta_g(\d+)", p)
        if mm:
            out.add(int(mm.group(1)))
    return out


def live_gens(m: dict) -> list[int]:
    out: set[int] = set()
    for e in m["segments"]:
        out |= set(e["gens"])
    return sorted(out)


# reader-visibility GC delay: retired dirs are deleted only after this
# many seconds, so a concurrent reader that resolved the PREVIOUS
# manifest finishes its scan against dirs that still exist on shared
# storage. Default 0 = immediate (the single-writer sandbox); set the
# env for multi-reader deployments (e.g. 900 = any read slower than
# 15 min re-resolves the manifest).
GC_GRACE_ENV = "DPOSS_GC_GRACE_SEC"


def retire_paths(index_dir: str, rels: list[str],
                 grace_sec: float | None = None) -> None:
    """Retire dirs the manifest no longer references: record them in the
    manifest's ``retired`` ledger (with a wall-clock stamp), then drain
    whatever has aged past the grace period. Caller holds the writer
    lock. With grace 0 this degrades to immediate deletion; with a
    nonzero grace a reader holding the previous manifest never 404s
    mid-scan — the retired dirs outlive its read (gated in
    tests/test_merge_and_resume.py)."""
    rels = [r for r in rels if r]
    if rels:
        update_manifest(index_dir, lambda m: _ledger(m, rels))
    gc_retired(index_dir, grace_sec)


def _ledger(m: dict, rels: list[str]) -> None:
    """Record ``rels`` in manifest ``m``'s ``retired`` ledger, stamped
    with the wall clock."""
    now = time.time()
    led = m.setdefault("retired", [])
    have = {e["path"] for e in led}
    led.extend({"path": r, "ts": now} for r in rels if r not in have)


def _live_rels(m: dict) -> set[str]:
    """Every rel the manifest currently references as LIVE data."""
    out = {e["path"] for e in m.get("segments", [])}
    out |= set(m.get("doclens", []))
    out |= set(m.get("doc_stats", []))
    return out


def gc_retired(index_dir: str, grace_sec: float | None = None) -> list[str]:
    """Delete ledgered dirs older than the grace period (``None`` reads
    $DPOSS_GC_GRACE_SEC, default 0) and drop them from the ledger.
    Returns the rels removed. Every writer operation calls this after
    its publish, so an active index converges; an idle one keeps its
    ledger until the next write (or an explicit call).

    Safety cross-check: a ledger entry whose path the manifest ALSO
    lists as live (segments/doclens/doc_stats) is never deleted — it is
    dropped from the ledger with a warning instead. Dir naming is
    monotonic today so this cannot happen, but a future name reuse
    (crash-replay re-publishing a prior deterministic rel) must not let
    an aged ledger row delete live data."""
    if grace_sec is None:
        grace_sec = float(os.environ.get(GC_GRACE_ENV, "0"))
    m = load_manifest(index_dir)
    if not m or not m.get("retired"):
        return []
    now = time.time()
    due = {e["path"] for e in m["retired"] if now - e["ts"] >= grace_sec}
    resurrected = due & _live_rels(m)
    if resurrected:
        import warnings

        warnings.warn(
            f"gc_retired: {sorted(resurrected)} are ledgered as retired "
            f"but live in {index_dir}/{MANIFEST}; dropping from the "
            "ledger WITHOUT deleting",
            stacklevel=2,
        )
        due -= resurrected

        def _unledger(mm):
            mm["retired"] = [e for e in mm.get("retired", [])
                             if e["path"] not in resurrected]
        update_manifest(index_dir, _unledger)
    if not due:
        return []
    for rel in due:
        shutil.rmtree(_abs(index_dir, rel), ignore_errors=True)

    def _mut(mm):
        mm["retired"] = [e for e in mm.get("retired", [])
                         if e["path"] not in due]
    update_manifest(index_dir, _mut)
    return sorted(due)

