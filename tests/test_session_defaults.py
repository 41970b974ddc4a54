"""Host-sized session defaults: the driver heap never exceeds what the
container may use."""

import os

from pyg_timeseries_spark.session import host_mem_bytes

PHYS = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_cgroup_limit_below_ram_caps_memory(tmp_path):
    limit = tmp_path / "memory.max"
    limit.write_text(f"{PHYS // 4}\n")
    assert host_mem_bytes((str(limit),)) == PHYS // 4


def test_unset_or_missing_limit_keeps_ram(tmp_path):
    unset = tmp_path / "memory.max"
    unset.write_text("max\n")  # cgroup v2 without a limit
    huge = tmp_path / "memory.limit_in_bytes"
    huge.write_text("9223372036854771712\n")  # cgroup v1 without a limit
    missing = str(tmp_path / "absent")
    assert host_mem_bytes((str(unset), str(huge), missing)) == PHYS
