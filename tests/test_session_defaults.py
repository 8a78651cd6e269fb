"""Session defaults sized from the host (no SparkSession needed)."""

from __future__ import annotations

import os

from gis_shapefile_spark import session as S


def test_session_defaults_sized_from_host():
    # default master local[nproc]: the CPUs this process may run on
    assert S.host_cpus() == len(os.sched_getaffinity(0)) >= 1
    total = S.mem_total_mb()
    assert total is None or total > 0
    # default driver heap: half of MemTotal, capped at 48g
    assert S.default_driver_memory(16093) == "8046m"
    assert S.default_driver_memory(96 * 1024) == "49152m"
    assert S.default_driver_memory(512 * 1024) == "49152m"
    assert S.default_driver_memory(None) == "49152m"
