"""The session defaults: the heap sized to the host (no Spark), and the
Spark defaults the engine relies on without setting them."""

from __future__ import annotations

from awsbatch_mapreduce_spark.session import driver_memory

GiB = 2**30


def test_driver_memory_is_half_of_ram_up_to_24g():
    assert driver_memory(15 * GiB) == "7g"
    assert driver_memory(47 * GiB) == "23g"
    assert driver_memory(48 * GiB) == "24g"
    assert driver_memory(128 * GiB) == "24g"
    assert driver_memory(GiB) == "1g"


# Spark defaults the plans rely on; ``_DEFAULT_CONF`` does not restate
# them, so a Spark upgrade that flips one shows up here.
_RELIED_ON_DEFAULTS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.parquet.filterPushdown",
    "spark.sql.parquet.enableVectorizedReader",
)


def test_relied_on_spark_defaults_are_on(spark):
    assert {k: spark.conf.get(k) for k in _RELIED_ON_DEFAULTS} == {
        k: "true" for k in _RELIED_ON_DEFAULTS
    }
