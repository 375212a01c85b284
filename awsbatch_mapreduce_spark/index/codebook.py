"""The index's codebook arithmetic: the fixed-point vector format, the
Lloyd fit, the collected-codebook assignment and the PQ codes.

Every index computation runs on integers so the Spark plans and their
DuckDB oracles agree bit for bit: embedding components quantize at
1e-6 (``_quantize``), squared distances at 1e-12 per dimension before
the sum (``_sq_dist_fp``), and every centroid is an exact mean — exact
int64 sum, one division per component (``_exact_means``, keyed by its
grouping columns: the Lloyd cell, the fine (cell, sub) or an init's
label/residue class).  A codebook is bounded (k x dim), so it is
collected to the driver and applied as one literal expression
(``_assign_literal`` inside the fit, ``assign_to_cells_collected`` for
the nearest cell, ``assign_topk_cells_collected`` for the ``nprobe``
nearest), all over the same per-row distance array.

The fit (``kmeans_fit``) takes its corpus raw (``embedding``) or
already quantized (``vq``, a members table's own rows); the column it
finds decides, so a refit from members and a fit from the raw corpus
iterate on identical integers.  The inits are ``label_centroid_init``
(one centroid per label) and ``_mod_centroid_init`` (k0 =
ceil(sqrt(ceil(n/cap))) residue classes of vec_id).

The PQ path re-quantizes components to 1e-4 (``_vq4``), splits the
vector into ``_PQ_SUB``-dim subspaces (``_subspaces``), trains
``_PQ_K`` residue-class codes per subspace (``_train_pq``) and encodes
members against them (``_encode_codes``).

The tables these feed are written by ``index/generation.py``; this
module writes nothing and imports no ``plans`` module.
"""

from __future__ import annotations

import json

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_VSCALE = 1000000.0  # embedding components quantize at 1e-6
_DSCALE = 1000000000000.0  # squared distances quantize at 1e-12

# Hard per-fine-cell membership cap of a generation fitted without an
# explicit one.  Production sizes this to the executor-memory /
# probe-latency budget; 16 keeps the fixture's 18-40-member coarse cells
# genuinely multi-sub (2-3 subs per cell, ~17 fine cells over 250 seen
# vectors) so the capacity split is exercised, not vacuous.
_CAP = 16
# The factor a quality-triggered refit multiplies the fitted cap by: the
# recall sweep's measured cap step (the supervisor's escalation, and the
# escalated cap the registered escalation lifecycles fit at).
_CAP_STEP = 4

# Lloyd iterations of every codebook fit and of the unrolled oracle chain.
_LLOYD_ITERS = 5

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


def norm2(col) -> Column:
    """Squared norm of a quantized vector, as an exact bigint."""
    return F.aggregate(col, F.lit(0).cast("bigint"), lambda acc, v: acc + v * v)


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
    ``d{i}``/``a{i}`` CTEs of ``_kmeans_cte`` and the ``an`` CTE of
    ``semdedup_codebook_novelty``).
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


def _exact_means(frame: DataFrame, *keys, vq="vq") -> DataFrame:
    """Per-key mean vectors of the quantized ``vq`` rows, grouped by
    ``keys`` (column names, or aliased Columns for a computed key):
    posexplode the components, exact int64 sum, ONE double division per
    component (identical operands in both engines -> identical IEEE
    result), ordered re-assembly into ``centroid``.  The one copy of the
    mean every codebook uses — the Lloyd cells, the fine (cell, sub)
    cells, and both inits."""
    flat = frame.select(*keys, F.posexplode(vq).alias("pos", "v"))
    by = flat.columns[:-2]
    return (
        flat.groupBy(*by, "pos")
        .agg(
            (
                F.sum("v").cast("double") / (F.lit(_VSCALE) * F.count(F.lit(1)))
            ).alias("cv")
        )
        .groupBy(*by)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )


def label_centroid_init(emb: DataFrame) -> DataFrame:
    """Deterministic k-means init: one centroid per ``label`` (the mean
    of the label's quantized vectors).  Shared by ``kmeans_embeddings``,
    the SemDeDup pipeline and the capacity codebook so all run the
    IDENTICAL cluster step (and the identical unrolled oracle,
    ``plans.iterative._kmeans_cte``)."""
    return _exact_means(
        emb,
        F.col("label").cast("int").alias("cell"),
        vq=_quantize(F.col("embedding")),
    )


def _mod_centroid_init(seen: DataFrame, cap: int = _CAP) -> DataFrame:
    """Adaptive coarse init: k0 = ceil(sqrt(ceil(n/cap))) residue-class
    means over vec_id % k0 — the deterministic, oracle-twinned init that
    lets the COARSE width grow with the corpus at fit time.  k0 is a
    driver-side scalar (like the kmeans loop counter), computed from
    one count.  ``seen`` is raw (vec_id, embedding) rows or quantized
    (vec_id, vq) rows, like ``kmeans_fit``'s corpus."""
    n = seen.count()
    k0 = math.ceil(math.sqrt(math.ceil(n / cap)))
    vq = F.col("vq") if "vq" in seen.columns else _quantize(F.col("embedding"))
    return _exact_means(
        seen, (F.col("vec_id") % F.lit(k0)).cast("int").alias("cell"), vq=vq
    )


def kmeans_fit(
    corpus: DataFrame,
    k_init: DataFrame,
    n_iter: int = _LLOYD_ITERS,
) -> tuple[DataFrame, list[float]]:
    """Run ``n_iter`` Lloyd iterations; return (final assignment,
    per-iteration inertia trace).  ``corpus`` needs ``vec_id`` and
    either ``embedding`` (raw) or ``vq`` (already in the 1e-6
    fixed-point domain — a refit from the persisted members table,
    whose ``vq`` rows are ``_quantize(embedding)`` by construction, so
    both iterate on identical integers); ``k_init`` needs (cell,
    centroid: array<double>).

    EAGER: calling this function runs one Spark job per iteration (a
    bounded k x dim stats collect — the codebook, which was always
    driver-broadcast; the corpus never leaves the cluster) plus one
    up-front materialization of the quantized working set, and the
    next iteration's codebook is rebuilt as a driver-side literal from
    the collected exact int64 sums.  Each iteration persists its
    assignment and unpersists the previous one so lineage does not grow
    with the iteration count.  The returned assignment carries ``d_fp``
    (1e-12 fixed-point squared distance) so downstream inertia sums are
    exact integers.

    Interior discipline (the lifecycle queries' wall is driver
    choreography, not data):

    - the quantized working set is ``localCheckpoint``-ed ONCE, so the
      five assign passes read materialized blocks instead of repeating
      the parquet scan + quantize per iteration (eager, in-region —
      every caller re-pays it per run, no cross-run reuse);
    - the per-iteration argmin is a LITERAL-codebook expression (the
      codebook already lives on the driver as the previous collect's
      exact sums): ``transform`` over an array<array<double>> literal +
      ``array_min``/``array_position``, exactly the (d_fp, cell)
      lexicographic argmin of a broadcast crossJoin + struct-min
      aggregate — same ``_sq_dist_fp`` integers, ties resolved to the
      lowest cell because the literal is sorted by cell ascending and
      ``array_position`` returns the FIRST minimum.  This removes BOTH
      the per-iteration broadcast-build job and the n-row vec_id
      exchange that the crossJoin+groupBy form needed to collapse its
      n x k candidates: each iteration is scan -> per-row argmin ->
      bounded (cell, pos) rollup -> k x dim collect, ONE exchange of a
      bounded frame;
    - AQE is disabled around the iteration loop (restored after): the
      iteration query has a FIXED shape with no join to re-plan and a
      bounded exchange, so AQE contributes nothing here while charging
      one extra driver job + re-plan per stage per iteration (measured:
      54 jobs for the 10 collects of a two-fit lifecycle with AQE on,
      10 with it off).  The shuffle partitioning still derives from the
      session conf.
    """
    if "vq" in corpus.columns:
        q = corpus.select("vec_id", "vq")
    else:
        q = corpus.select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    spark = corpus.sparkSession
    q = q.localCheckpoint()

    cell_type = k_init.schema["cell"].dataType
    assigned_prev = None
    inertia_trace: list[float] = []
    _old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # the init codebook is bounded (k x dim — it was always either
        # broadcast or a driver literal), so ONE collect brings it into
        # the same driver-side (cells, cents) form every later
        # iteration's stats rebuild produces
        init_rows = sorted(k_init.collect(), key=lambda r: r["cell"])
        cells = [r["cell"] for r in init_rows]
        cents = [list(r["centroid"]) for r in init_rows]
        for i in range(n_iter):
            assigned = _assign_literal(q, cells, cents, cell_type)
            if i == n_iter - 1:
                # only the FINAL assignment has downstream consumers
                # (coarse write + capacity split); intermediates feed
                # exactly one stats collect each, so caching them was
                # pure block-manager overhead
                assigned = assigned.persist()
            # ONE action per iteration: the per-(cell, pos) stats rollup
            # carries the exact int64 component sums, member counts AND
            # the per-cell d_fp sums, so inertia and the next codebook
            # come out of a single collect.  The collected frame is
            # bounded (k x dim rows — the codebook, which was ALWAYS
            # driver-broadcast), never corpus-scaled.  Arithmetic is
            # operand-identical: the driver divides the same exact int64
            # sum by the same (scale x count) in IEEE double, exactly as
            # _exact_means / the oracle's c{i} CTEs do.
            stats = (
                assigned.select(
                    "cell", "d_fp", F.posexplode("vq").alias("pos", "v")
                )
                .groupBy("cell", "pos")
                .agg(
                    F.sum("v").alias("sv"),
                    F.count(F.lit(1)).alias("c"),
                    F.sum("d_fp").alias("sd"),
                )
                .collect()
            )
            if stats:
                inertia_trace.append(
                    sum(r["sd"] for r in stats if r["pos"] == 0) / _DSCALE
                )
            else:
                inertia_trace.append(None)
            if i < n_iter - 1:
                by_cell: dict = {}
                for r in stats:
                    by_cell.setdefault(r["cell"], {})[r["pos"]] = r["sv"] / (
                        _VSCALE * r["c"]
                    )
                cells = sorted(by_cell)
                cents = [
                    [by_cell[cell][p] for p in sorted(by_cell[cell])]
                    for cell in cells
                ]
            assigned_prev = assigned
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", _old_aqe)
    return assigned_prev, inertia_trace


def _subspaces(members_like: DataFrame, *keys: str) -> DataFrame:
    """(keys..., vq_s) member rows -> one row per component in the PQ
    domain: (keys..., sm = subspace, sj = dim within it, vq4)."""
    return members_like.select(
        *keys, F.posexplode("vq_s").alias("pos", "v")
    ).select(
        *keys,
        (F.col("pos") / _PQ_SUB).cast("int").alias("sm"),
        (F.col("pos") % _PQ_SUB).alias("sj"),
        _vq4(F.col("v")).alias("vq4"),
    )


def _train_pq(members: DataFrame) -> DataFrame:
    """The per-subspace PQ codebook (k, sm, sj, cq) trained from the
    members' own quantized components: residue-class means over
    seen_id % ``_PQ_K``, exact int sum / one division, rounded to the
    1e-4 domain — a pure function of the member set."""
    return _subspaces(members, "seen_id").groupBy(
        (F.col("seen_id") % _PQ_K).cast("int").alias("k"), "sm", "sj"
    ).agg(
        F.floor(
            F.sum("vq4").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cq")
    )


def _encode_codes(members_like: DataFrame, pcb: DataFrame) -> DataFrame:
    """Encode (seen_id, cell, sub, vq_s) member rows against the
    bounded PQ codebook: per subspace, the argmin-distance codebook
    entry (FIRST(k ORDER BY d, k) ties, matching the oracle's mcode).
    Returns (seen_id, cell, sub, sm, code) — the codes-table row shape,
    for a generation's build and for each admission (admitted members
    get codes too, so the ADC candidate set stays complete between
    refits)."""
    mdist = (
        _subspaces(members_like, "seen_id", "cell", "sub")
        .join(F.broadcast(pcb), ["sm", "sj"])
        .groupBy("seen_id", "cell", "sub", "sm", "k")
        .agg(
            F.sum(
                (F.col("vq4") - F.col("cq")) * (F.col("vq4") - F.col("cq"))
            ).alias("d")
        )
    )
    return (
        mdist.groupBy("seen_id", "cell", "sub", "sm")
        .agg(F.min(F.struct("d", "k")).alias("b"))
        .select("seen_id", "cell", "sub", "sm", F.col("b.k").alias("code"))
    )
