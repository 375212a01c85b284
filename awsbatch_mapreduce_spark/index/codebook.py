"""The index's fixed-point vector format and its collected-codebook
assignment.

Every index computation runs on integers so the Spark plans and their
DuckDB oracles agree bit for bit: embedding components quantize at
1e-6 (``_quantize``), squared distances at 1e-12 per dimension before
the sum (``_sq_dist_fp``).  A codebook is bounded (k x dim), so it is
collected to the driver and applied as one literal expression
(``assign_to_cells_collected`` for the nearest cell,
``assign_topk_cells_collected`` for the ``nprobe`` nearest), both over
the same per-row distance array.  The PQ path re-quantizes components
to 1e-4 (``_vq4``) and splits the vector into ``_PQ_SUB``-dim
subspaces of ``_PQ_K`` codes each.

The Lloyd fit (``plans/iterative.kmeans_fit``), the PQ encode and the
admission stay with their queries; this module imports no ``plans``
module.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_VSCALE = 1000000.0  # embedding components quantize at 1e-6
_DSCALE = 1000000000000.0  # squared distances quantize at 1e-12

_PQ_SUB = 8  # dims per PQ subspace (64-dim fixture -> 8 subspaces)
_PQ_K = 10  # codebook entries per subspace (seen_id % 10 residue means)


def _quantize(col: Column) -> Column:
    """array<float> -> array<bigint> fixed-point at 1e-6 (exact int
    sums downstream; |v| <= ~2 here so no overflow anywhere)."""
    return F.transform(
        col,
        lambda v: F.floor(v.cast("double") * F.lit(_VSCALE) + F.lit(0.5)).cast(
            "bigint"
        ),
    )


def _sq_dist_fp(vq: Column, c: Column) -> Column:
    """Squared distance between a quantized vector and a double
    centroid, itself quantized to a 1e-12 int per dimension BEFORE the
    sum — integer addition is associative, so the fold order (Spark:
    array order; DuckDB: SUM over unnested rows) cannot matter."""
    return F.aggregate(
        F.zip_with(
            vq,
            c,
            lambda x, y: F.floor(
                (x / F.lit(_VSCALE) - y)
                * (x / F.lit(_VSCALE) - y)
                * F.lit(_DSCALE)
                + F.lit(0.5)
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _vq4(col):
    """1e6-quantized component -> the PQ 1e4 domain, by the shared
    exact rule floor(vq/100 + 0.5) — derived from the index's own
    quantized components, so the codes build never re-reads the raw
    corpus (the refit-from-members self-containment property)."""
    return F.floor(col / F.lit(100.0) + F.lit(0.5)).cast("bigint")


def _codebook_literal(cents: list) -> Column:
    """k x dim driver-side centroid lists -> ONE array<array<double>>
    literal Column, as a JSON string literal + ``from_json``.  Form
    matters for driver overhead, not semantics (round 19, measured):
    ``F.lit(nested_list)`` costs one py4j round-trip per element
    (~450 ms per iteration at k x dim = 512), and a parsed
    ``array(array(..))`` expression is a k x dim-node tree that every
    analyzer/optimizer pass re-walks per Dataset op (~70-140 ms per
    select at this size; a two-fit lifecycle measured ~7 s slower on
    that form) — while the JSON literal is a 2-node tree the optimizer
    constant-folds once per query, and per-row access through the
    folded array measured no slower than the parsed form once JIT-warm
    (0.21 s vs 0.73 s per million element_at+fold rows).  Exactness:
    ``json.dumps`` emits Python's shortest-round-trip float digits and
    Jackson parses them with ``Double.parseDouble`` semantics, so the
    folded codebook is bit-identical to the collected doubles."""
    return F.from_json(F.lit(json.dumps(cents)), "array<array<double>>")


def _distances(cents: list) -> Column:
    """Per row, the ``_sq_dist_fp`` integer distance from ``vq`` to
    every centroid of the literal codebook, in codebook order."""
    return F.transform(
        _codebook_literal(cents), lambda c: _sq_dist_fp(F.col("vq"), c)
    )


def _cells_literal(cells: list) -> Column:
    return F.expr("array(" + ",".join(str(int(c)) for c in cells) + ")")


def _assign_literal(
    q: DataFrame, cells: list, cents: list, cell_type
) -> DataFrame:
    """One Lloyd ASSIGN step against a DRIVER-LITERAL codebook:
    quantized corpus (vec_id, vq) -> (vec_id, vq, cell, d_fp), where
    ``d_fp`` is the ``_sq_dist_fp`` integer squared distance to the
    nearest centroid and ties go to the lowest cell — the
    (d_fp, cell)-lexicographic argmin the oracle twins compute (the
    ``d{i}``/``a{i}`` CTEs of ``_kmeans_cte`` and wave 10's ``an``).
    Computed per row with higher-order functions over the literal
    instead of a broadcast crossJoin + aggregate.  ``cells``/``cents``
    MUST be sorted by cell ascending: ``array_position`` returns the
    first minimum, which is then the lowest cell.  No exchange, no
    broadcast build: the n x k distance work happens in the row's own
    task and only the argmin row survives.

    Precondition: ``q`` has unique ``vec_id``s.  The output is one row
    per INPUT row; the crossJoin form's ``groupBy(vec_id)`` collapsed
    duplicate ids, this form does not."""
    if not cells:
        # empty codebook (empty corpus): the crossJoin form produced an
        # empty frame; keep that contract
        return q.select(
            "vec_id",
            "vq",
            F.lit(None).cast(cell_type).alias("cell"),
            F.lit(None).cast("bigint").alias("d_fp"),
        ).filter(F.lit(False))
    ds = _distances(cents)
    best_d = F.array_min(ds)
    idx = F.array_position(ds, best_d).cast("int")
    return q.select(
        "vec_id",
        "vq",
        F.element_at(_cells_literal(cells), idx).cast(cell_type).alias("cell"),
        best_d.alias("d_fp"),
    )


def _collect_codebook(codebook: DataFrame) -> tuple[list, list]:
    """Bounded (cell, centroid) frame -> sorted driver-side
    (cells, cents) lists for :func:`_assign_literal` /
    :func:`assign_to_cells_collected`.  One tiny collect job — the
    codebook was always broadcast-sized by contract (k0 rows)."""
    rows = sorted(codebook.collect(), key=lambda r: r["cell"])
    return [r["cell"] for r in rows], [list(r["centroid"]) for r in rows]


def assign_to_cells_collected(q: DataFrame, codebook: DataFrame) -> DataFrame:
    """Assign a quantized batch (vec_id, vq) to a BOUNDED (cell,
    centroid) codebook: the codebook is collected to the driver and
    applied as a literal expression (round 19) — the
    (vec_id, vq, cell, d_fp) integer argmin of :func:`_assign_literal`,
    with the batch side crossing NO exchange (the pre-r19 broadcast
    crossJoin + groupBy(vec_id) form shuffled one row per batch vector
    just to collapse its own k candidates, plus one broadcast-build job
    per probe).  The collect happens at plan-
    build time (one k0-row job — the codebook was always driver/
    executor-resident by contract; the never-broadcast pins cover the
    data-scaled sides, not this frame).  Precondition: ``q`` has unique
    ``vec_id``s (see :func:`_assign_literal`)."""
    cells, cents = _collect_codebook(codebook)
    return _assign_literal(q, cells, cents, codebook.schema["cell"].dataType)


def assign_topk_cells_collected(
    q: DataFrame, codebook: DataFrame, nprobe: int
) -> DataFrame:
    """Rank-``nprobe`` coarse assignment against a collected bounded
    codebook: (vec_id, vq) -> (vec_id, vq, cell, rnk) with rnk =
    1..nprobe by ascending (d_fp, cell) — the r-th "struct-min with
    ranks 1..r-1 excluded" winner (each cell appears once, so the r-th
    lexicographic (d_fp, cell) element IS the r-th exclusion-round
    winner), computed per row via array_sort + slice over the same
    distance array :func:`_assign_literal` takes the argmin of, instead
    of nprobe crossJoin/aggregate rounds — removing nprobe batch-sized
    exchanges and nprobe-1 broadcast builds per probe."""
    cells, cents = _collect_codebook(codebook)
    cell_type = codebook.schema["cell"].dataType
    if not cells:
        return q.select(
            "vec_id",
            "vq",
            F.lit(None).cast(cell_type).alias("cell"),
            F.lit(None).cast("int").alias("rnk"),
        ).filter(F.lit(False))
    top = F.slice(
        F.array_sort(
            F.zip_with(
                _distances(cents),
                _cells_literal(cells),
                lambda d, c: F.struct(d.alias("d"), c.alias("c")),
            )
        ),
        1,
        nprobe,
    )
    return q.select(
        "vec_id", "vq", F.posexplode(top).alias("p", "s")
    ).select(
        "vec_id",
        "vq",
        F.col("s.c").cast(cell_type).alias("cell"),
        (F.col("p") + 1).cast("int").alias("rnk"),
    )
