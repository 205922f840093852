"""Session defaults that must hold without starting a session."""

from __future__ import annotations

from linkgraph.session import DRIVER_MEM_CAP_MB, default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_default_is_a_share_of_ram(tmp_path, monkeypatch):
    """The default driver heap is half the host's RAM, capped, so it never
    exceeds the memory of a small host; the env override wins verbatim."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib_kb = 1024 * 1024
    assert default_driver_memory(_meminfo(tmp_path, 15 * gib_kb)) == "7680m"
    assert default_driver_memory(_meminfo(tmp_path, 128 * gib_kb)) == f"{DRIVER_MEM_CAP_MB}m"
    assert default_driver_memory(str(tmp_path / "missing")) == f"{DRIVER_MEM_CAP_MB}m"

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory(_meminfo(tmp_path, 15 * gib_kb)) == "3g"
