"""Skew-aware join: explicit key salting for pathological hot keys.

AQE's skew-join handling (on in ``session.get_spark``) splits oversized
partitions at runtime and covers moderate skew; explicit salting is the
escape hatch for the pathological case — one key carrying a double-digit
percentage of a 100 TB fact table, where even a split partition's build
side won't fit.

Mechanism: the probe (skewed) side gets a random salt in [0, n); the
build side is replicated n times, once per salt value; the join key
becomes (key, salt).  The hot key's rows now spread over n tasks at the
cost of replicating the build side n× — worth it only when build is
small relative to the hot partition, which is exactly the pathological
regime.  Result is row-identical to the unsalted join (asserted in
``tests/test_skew.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# salt fan-out of ``salted_join``: the build side is replicated this many times
_N_SALTS = 8


def salted_join(
    skewed: DataFrame,
    build: DataFrame,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Join ``skewed`` to ``build`` on ``on`` with ``_N_SALTS``-way key
    salting.

    ``build`` rows are exploded across all salt values (size × _N_SALTS);
    ``skewed`` rows get one pseudorandom salt each.  The salt is derived
    from ``rand`` — it only affects placement, never the result set, so
    nondeterminism is safe (and the only acceptable use of rand in this
    engine).  ``how`` supports inner/left (the skewed side is preserved).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (skewed side first)")
    salted_probe = skewed.withColumn(
        "__salt", (F.rand() * _N_SALTS).cast("int")
    )
    replicated_build = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)]))
    )
    out = salted_probe.join(replicated_build, [on, "__salt"], how)
    return out.drop("__salt")


def two_phase_topk(
    df: DataFrame,
    key: str,
    order_cols: list,
    k: int,
    salt_from: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe per-key top-k: rank within (key, salt) buckets first,
    then rank the <= n_salts*k survivors per key.

    A plain ranking window shuffles every row of a hot key into ONE
    task's sort — a 30%-hot key at 100 TB is a single-task sort of 30%
    of the table.  Phase 1 spreads the hot key over ``n_salts``
    partitions and discards all but k rows per bucket; phase 2's
    per-key partitions are bounded at ``n_salts * k`` rows by
    construction, so no partition ever depends on the key's row count.

    ``salt_from`` must name a column that is unique-per-row within a
    key (an id) so the salt is DETERMINISTIC (engine determinism
    doctrine: rand() only where placement can't change results; here
    even placement is pinned).  Result is row-identical to the plain
    window (asserted in ``tests/test_skew.py``): any row in the true
    per-key top-k is in the top-k of whichever bucket it landed in.

    PRECONDITION for that identity (ADVICE r7): ``order_cols`` must
    totally order rows within a key — include a unique tiebreaker
    (e.g. ``F.asc(salt_from)``).  With ties, phase 1 can discard a row
    that a plain ROW_NUMBER window would have ranked <= k (bucket-local
    tie-break differs from the global one), so the equivalence only
    holds for tie-free orderings.  Both registered uses order on a
    unique id last.

    ``order_cols`` are Column expressions (e.g. ``[F.desc("price"),
    F.asc("id")]``); the final ``rn`` column is the true per-key rank.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(key), salt).orderBy(*order_cols)
    phase1 = (
        df.withColumn("__rk1", F.row_number().over(w1))
        .filter(F.col("__rk1") <= k)
        .drop("__rk1")
    )
    w2 = Window.partitionBy(key).orderBy(*order_cols)
    return (
        phase1.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rn") <= k)
    )
