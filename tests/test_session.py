"""The session defaults that are sized to the host (no Spark)."""

from __future__ import annotations

from awsbatch_mapreduce_spark.session import driver_memory

GiB = 2**30


def test_driver_memory_is_half_of_ram_up_to_24g():
    assert driver_memory(15 * GiB) == "7g"
    assert driver_memory(47 * GiB) == "23g"
    assert driver_memory(48 * GiB) == "24g"
    assert driver_memory(128 * GiB) == "24g"
    assert driver_memory(GiB) == "1g"
