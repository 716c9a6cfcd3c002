"""get_spark's driver-memory default (Spark-free)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from syzgydb_spark import session  # noqa: E402


def test_default_driver_memory_is_half_of_ram_capped_at_16g(tmp_path, monkeypatch):
    meminfo = tmp_path / "meminfo"
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree: 1 kB\n")  # 15 GiB
    assert session._default_driver_memory() == "7680m"
    meminfo.write_text("MemTotal:       67108864 kB\n")  # 64 GiB
    assert session._default_driver_memory() == "16384m"
    meminfo.unlink()
    assert session._default_driver_memory() == "16g"
