"""Small-file compaction with optional sort-on-write clustering.

Streaming sinks, incremental upserts, and over-parallel writers all
degrade a table into thousands of small files; scan throughput then
dies on open/footer overhead instead of bytes.  Compaction rewrites
the table into size-targeted files, optionally range-clustered on a
key so parquet min/max stats prune whole files for range predicates —
the poor man's Z-order, and the single highest-leverage maintenance
job on a 100 TB lake.

The rewrite goes to a staging directory and swaps in with a rename
(same discipline as ``streaming/upsert.py``): never overwrite a path
you are lazily reading.  On object stores the swap becomes a table-
format commit; the plan (repartitionByRange + sortWithinPartitions)
is unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# output file size when no explicit file count is given
_TARGET_FILE_MB = 128


def interleave_bits(scaled: list, bits: int = 16):
    """Morton/Z-order key: bit-interleave ``len(scaled)`` non-negative
    int columns (each already quantized to ``bits`` bits).  Column i's
    bit b lands at output position ``b * n + i``, so the high bits of
    every input alternate at the top of the key — sorting by it gives
    every input column locality at once.  Pure JVM bitwise expressions
    (shift/and/or), fully codegen-able; no UDF.
    """
    n = len(scaled)
    if n * bits > 63:
        # top bit must stay out of the int64 sign bit — otherwise the
        # key flips negative and silently corrupts the sort order.
        # Callers with 4+ columns should quantize to 63 // n bits each
        # (compact_parquet does); reject rather than guess here.
        raise ValueError(
            f"{n} columns x {bits} bits = {n * bits} > 63 key bits; "
            f"quantize to <= {63 // n} bits per column"
        )
    z = None
    for ci, c in enumerate(scaled):
        for b in range(bits):
            part = F.shiftleft(
                F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + ci
            )
            z = part if z is None else z.bitwiseOR(part)
    return z


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_parquet(
    spark: SparkSession,
    path: str,
    cluster_by: str | None = None,
    n_files: int | None = None,
    zorder_by: list[str] | None = None,
) -> DataFrame:
    """Rewrite the parquet table at ``path`` into ~``_TARGET_FILE_MB``
    files (or exactly ``n_files`` when given); with ``cluster_by``,
    range-partition + sort on that column so each output file covers a
    disjoint key range.  With ``zorder_by`` (2+ numeric columns),
    cluster on the Morton interleave of the min-max-scaled columns
    instead: every output file then covers a bounded range of EVERY
    listed column, so parquet min/max stats prune files for predicates
    on any of them — single-key range clustering prunes only its own
    key.  (Min-max scaling is the simple quantizer; heavy skew in a
    column wastes its bit budget — pre-bucket such a column first.)

    Returns the compacted table (re-read from the swapped path).
    """
    if n_files is None:
        n_files = max(1, _dir_bytes(path) // (_TARGET_FILE_MB << 20))
    df = spark.read.parquet(path)
    if zorder_by is not None:
        if cluster_by is not None:
            raise ValueError("pass either cluster_by or zorder_by, not both")
        if len(zorder_by) < 2:
            raise ValueError("zorder_by needs 2+ columns; use cluster_by for 1")
        # 63 usable bits in a signed int64 key: with 4+ columns the
        # default 16-bit quantization would overflow into the sign bit,
        # so extra columns trade per-column resolution instead.
        zbits = min(16, 63 // len(zorder_by))
        zmax = float((1 << zbits) - 1)
        stats = df.agg(
            *[
                a
                for c in zorder_by
                for a in (
                    F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
                )
            ]
        )
        scaled = [
            F.least(
                F.greatest(
                    F.floor(
                        (F.col(c).cast("double") - F.col(f"__min_{c}"))
                        * zmax
                        / F.greatest(
                            F.col(f"__max_{c}") - F.col(f"__min_{c}"),
                            F.lit(1e-12),
                        )
                    ).cast("bigint"),
                    F.lit(0),
                ),
                F.lit(int(zmax)),
            )
            for c in zorder_by
        ]
        out = (
            df.crossJoin(F.broadcast(stats))
            .withColumn("__z", interleave_bits(scaled, bits=zbits))
            .repartitionByRange(n_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .select(*df.columns)
        )
    elif cluster_by is not None:
        out = df.repartitionByRange(n_files, F.col(cluster_by)).sortWithinPartitions(
            cluster_by
        )
    else:
        out = df.repartition(n_files)
    staging = f"{path.rstrip('/')}.compacting"
    out.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
    return spark.read.parquet(path)
