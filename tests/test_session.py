"""Driver-heap sizing from the machine's memory limit."""

from __future__ import annotations

from gcp_datalake_utils_spark import session

GB = 1 << 30


def _limits(tmp_path, mem_total_kb: int, cgroup: str | None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\n"
                       "MemFree:        1024 kB\n")
    cg = tmp_path / "memory.max"
    if cgroup is not None:
        cg.write_text(cgroup + "\n")
    return str(meminfo), (str(cg), str(tmp_path / "absent"))


def test_memory_limit_is_min_of_host_and_cgroup(tmp_path):
    host_kb = 16 * 1024 * 1024
    assert session.memory_limit_bytes(
        *_limits(tmp_path, host_kb, "max")) == 16 * GB
    assert session.memory_limit_bytes(
        *_limits(tmp_path, host_kb, str(4 * GB))) == 4 * GB
    assert session.memory_limit_bytes(
        *_limits(tmp_path, host_kb, str(64 * GB))) == 16 * GB
    assert session.memory_limit_bytes(
        *_limits(tmp_path, host_kb, None)) == 16 * GB


def test_driver_memory_is_a_capped_fraction_of_the_limit(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a 15.7 GiB host gets 40% of it, not the 16g cap
    assert session.driver_memory(int(15.7 * GB)) == "6430m"
    assert session.driver_memory(4 * GB) == "1638m"
    assert session.driver_memory(256 * GB) == "16384m"


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory(256 * GB) == "3g"
