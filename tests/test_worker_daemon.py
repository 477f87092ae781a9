"""The Python worker daemon: zip archives are re-read only when they
change, workers freeze their import-time objects after the first task,
and workers find the package from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from data_prep_opensearch_spark import session, worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zdp_first": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer = zipimport.zipimporter(archive)
    reads.clear()
    importer.invalidate_caches()
    assert reads == [archive]  # no stamp yet: the first call re-reads
    importer.invalidate_caches()
    assert reads == [archive]  # unchanged archive: no re-read

    monkeypatch.syspath_prepend(archive)
    for name in ("zdp_first", "zdp_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zdp_first").X == 1
    with pytest.raises(ImportError):
        importlib.import_module("zdp_second")
    _write_zip(archive, {"zdp_first": "X = 1\n", "zdp_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zdp_second").Y == 2
    monkeypatch.delitem(sys.modules, "zdp_first")
    monkeypatch.delitem(sys.modules, "zdp_second")


def test_workers_reuse_freeze_and_still_collect(spark):
    def probe(batches):
        import gc
        import importlib
        import sys
        import weakref
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        # cross-task state lives on a module every worker keeps loaded;
        # only a cycle made after this worker froze tests the collector
        prev, made_frozen = getattr(sys, "_dposs_probe_ref", (None, False))
        prev_dead = prev() is None if made_frozen else None
        sys._dposs_probe_seq = getattr(sys, "_dposs_probe_seq", 0) + 1

        real_read = zipimport._read_directory
        reads = []

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read

        class Node:
            pass

        node = Node()
        node.self = node  # a cycle only the collector can free
        sys._dposs_probe_ref = (weakref.ref(node), gc.get_freeze_count() > 0)
        yield pd.DataFrame({
            "pid": [os.getpid()], "seq": [sys._dposs_probe_seq],
            "frozen": [gc.get_freeze_count()], "reads": [len(reads)],
            "prev_dead": [prev_dead],
        })

    schema = "pid long, seq long, frozen long, reads long, prev_dead boolean"
    df = spark.range(0, 2, numPartitions=2)
    rows = [r for _ in range(10) for r in df.mapInPandas(probe, schema).collect()]
    assert len(rows) == 20
    assert len({r.pid for r in rows}) < len(rows)  # workers are reused
    assert max(r.seq for r in rows) >= 2
    assert all(r.frozen > 0 for r in rows if r.seq >= 2)
    assert all(r.reads == 0 for r in rows)
    after_freeze = [r.prev_dead for r in rows if r.prev_dead is not None]
    assert after_freeze and all(after_freeze)


def test_workers_import_the_package_from_any_directory(tmp_path):
    script = (
        "import sys\n"
        f"sys.path.insert(0, {session.PACKAGE_PARENT!r})\n"
        "from data_prep_opensearch_spark.functions.text import clean_str_py\n"
        "from data_prep_opensearch_spark.session import get_spark\n"
        "spark = get_spark(app_name='cwd', cores=1, shuffle_partitions=1)\n"
        "df = spark.createDataFrame([(' a  b ',)], 's string')\n"
        "f = lambda it: (p.assign(s=p.s.map(clean_str_py)) for p in it)\n"
        "print(repr(df.mapInPandas(f, 's string').collect()[0].s))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    from data_prep_opensearch_spark.functions.text import clean_str_py

    assert out.stdout.strip().splitlines()[-1] == repr(clean_str_py(" a  b "))
