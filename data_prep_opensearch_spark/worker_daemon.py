"""Python worker daemon (``spark.python.daemon.module``): pyspark's own
daemon with two fixed costs per task removed.

1. Every task starts with ``importlib.invalidate_caches()``, and
   Python 3.11's ``zipimporter`` answers it by re-reading the whole
   central directory of its archive (pyspark.zip: 1,328 entries), once
   per cached importer. Here an importer re-reads only when the
   archive's (mtime, size, inode) changed since it last read it, so a
   new or rewritten archive is still picked up.
2. The daemon runs ``gc.collect()`` after every task of a reused worker,
   which walks every object the worker ever imported. Each forked worker
   freezes the survivors of its first task (``gc.freeze``), so later
   collections see only what later tasks made. A cycle of frozen objects
   that turns to garbage later stays until the worker exits; what
   survives a first task is module state, which lives that long anyway.

Imports only the stdlib (and pyspark, when run).
"""

from __future__ import annotations

import gc
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged. Stat before reading: a write that lands in
    between leaves a stale stamp, which only costs one more re-read."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        _read_archive(importer)
        importer._read_stamp = stamp


def freeze_after_first_task(worker_main):
    """Wrap pyspark's ``worker_main`` so that this worker process freezes
    what survives its first task (imports, caches) out of the collector."""
    frozen = False

    def main(infile, outfile):
        nonlocal frozen
        worker_main(infile, outfile)
        if not frozen:
            frozen = True
            gc.collect()
            gc.freeze()

    return main


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    import pyspark.daemon

    pyspark.daemon.worker_main = freeze_after_first_task(pyspark.daemon.worker_main)
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
