"""Spark driver heap sizing of the SparkSession factory — pure Python,
no Spark session."""

import os

from record_linkage_spark.session import default_driver_memory


def _mib(size: str) -> int:
    assert size.endswith("m")
    return int(size[:-1])


def test_default_driver_memory_below_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _mib(default_driver_memory()) << 20
    assert 0 < heap < phys


def test_default_driver_memory_is_a_share_of_the_given_memory():
    # 40% of 15 GiB: a fixed 16g heap would not fit such a machine
    assert default_driver_memory(15 << 30) == "6144m"
    assert default_driver_memory(64 << 30) == f"{int(64 * 1024 * 0.4)}m"
