"""Driver-heap sizing: pure Python, no JVM."""

from __future__ import annotations

from meta_morph_etl_databricks_spark.session import driver_mem_for

_MEMINFO = """MemTotal:       16479424 kB
MemFree:         1234567 kB
MemAvailable:   {avail} kB
Buffers:          123456 kB
"""


def test_driver_mem_is_a_quarter_of_available():
    # the 15.7 GiB host a fixed 16g pre-touched heap could not start on
    assert driver_mem_for(_MEMINFO.format(avail=15907232)) == "3883m"


def test_driver_mem_is_capped_and_floored():
    assert driver_mem_for(_MEMINFO.format(avail=512 * 1024 * 1024)) == "16384m"
    assert driver_mem_for(_MEMINFO.format(avail=2 * 1024 * 1024)) == "1024m"


def test_driver_mem_without_memavailable_keeps_the_cap():
    assert driver_mem_for("MemTotal: 1000 kB\n") == "16384m"
    assert driver_mem_for("") == "16384m"
