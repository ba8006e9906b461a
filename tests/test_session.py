"""SparkSession defaults that depend on the machine."""

from __future__ import annotations

from filesql_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_of_ram_capped():
    assert default_driver_memory(15 * GIB) == "7g"
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(64 * GIB) == "32g"
    assert default_driver_memory(512 * GIB) == "32g"
    assert default_driver_memory(GIB) == "1g"


def test_default_driver_memory_reads_this_machine():
    gb = int(default_driver_memory()[:-1])
    assert 1 <= gb <= 32
