"""The session factory sizes the driver heap from the host."""

from __future__ import annotations

import os

from geoestate_etl_spark.session import _default_driver_mem


def test_driver_heap_defaults_to_half_of_host_ram(spark):
    total_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert _default_driver_mem() == f"{total_mib // 2}m"
    # SPARK_GRAFT_DRIVER_MEM, when set, still wins over the default
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
