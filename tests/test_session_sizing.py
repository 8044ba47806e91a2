"""The driver-heap sizing rule of spark/session.py, with memory readings
faked. Starts no JVM."""

import os

import pytest

from gos2_spark.spark import session

GIB = 1 << 30


@pytest.fixture
def memory(monkeypatch, tmp_path):
    """Set physical memory and the cgroup limit files' contents."""
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    real_sysconf = os.sysconf

    def fake(physical, *cgroup_limits):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": physical // 4096}
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda name: pages[name] if name in pages else real_sysconf(name),
        )
        paths = []
        for i, text in enumerate(cgroup_limits):
            path = tmp_path / f"limit{i}"
            path.write_text(text + "\n")
            paths.append(str(path))
        paths.append(str(tmp_path / "missing"))
        monkeypatch.setattr(session, "_CGROUP_LIMIT_FILES", tuple(paths))

    return fake


def test_default_is_half_of_physical_memory_in_whole_gib(memory):
    memory(15 * GIB)
    assert session.driver_memory() == "7g"


def test_default_is_capped_at_16g(memory):
    memory(64 * GIB)
    assert session.driver_memory() == "16g"


def test_default_is_at_least_1g(memory):
    memory(GIB)
    assert session.driver_memory() == "1g"


def test_cgroup_limit_below_physical_memory_wins(memory):
    memory(64 * GIB, str(6 * GIB))
    assert session.driver_memory() == "3g"


def test_unlimited_cgroup_is_ignored(memory):
    memory(15 * GIB, "max", str(1 << 63))
    assert session.driver_memory() == "7g"


@pytest.mark.parametrize("value", ["3g", "3072m", "1t"])
def test_explicit_setting_is_returned_as_is(memory, monkeypatch, value):
    memory(2048 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEM", value)
    assert session.driver_memory() == value


def test_oversized_explicit_setting_is_refused(memory, monkeypatch):
    memory(15 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "16g")
    with pytest.raises(ValueError, match=r"SPARK_DRIVER_MEM='16g'.* 15\.0 GiB"):
        session.driver_memory()


def test_unparsable_explicit_setting_is_refused(memory, monkeypatch):
    memory(15 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3gb")
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEM='3gb'"):
        session.driver_memory()


def test_get_spark_refuses_before_launching_the_jvm(memory, monkeypatch):
    memory(15 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "64g")

    def launched(*args, **kwargs):
        raise AssertionError("get_spark reached the session builder")

    monkeypatch.setattr(session.SparkSession.Builder, "getOrCreate", launched)
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEM='64g'"):
        session.get_spark()
