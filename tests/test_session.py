"""Session defaults are derived from the machine; the env overrides them."""

from __future__ import annotations

import os

from data_prep_opensearch_spark import session


def test_driver_memory_is_half_the_machine_within_bounds():
    gb = 1 << 30
    assert session.default_driver_memory(15 * gb + gb // 2) == "7g"
    assert session.default_driver_memory(16 * gb) == "8g"
    assert session.default_driver_memory(gb) == "1g"
    assert session.default_driver_memory(512 * gb) == "64g"


def test_defaults_follow_the_machine(monkeypatch):
    assert session.machine_cores() >= 1
    assert session.machine_memory_bytes() > 1 << 20
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "machine_cores", lambda: 3)
    monkeypatch.setattr(session, "machine_memory_bytes", lambda: 6 << 30)
    assert session.spark_cores() == 3
    assert session.driver_memory() == "3g"


def test_env_overrides_the_machine(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "9g")
    assert session.spark_cores() == 5
    assert session.driver_memory() == "9g"


def test_workers_get_the_package_ahead_of_the_user_path(monkeypatch):
    pkg = session.PACKAGE_PARENT
    assert os.path.isdir(os.path.join(pkg, "data_prep_opensearch_spark"))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/a", pkg, "", "/b"]))
    assert session.worker_pythonpath() == os.pathsep.join([pkg, "/a", "/b"])
    monkeypatch.delenv("PYTHONPATH")
    assert session.worker_pythonpath() == pkg
