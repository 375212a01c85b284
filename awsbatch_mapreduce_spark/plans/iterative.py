"""Iterative algorithms on the engine: Lloyd k-means over embeddings.

Genuinely iterative computation — but, unlike round 1/2, no longer
outside the oracle gate: the iteration count is fixed (5), so the
DuckDB oracle unrolls the same five Lloyd steps as chained CTEs, and
every arithmetic step is made cross-engine bit-exact by quantizing to
integers (embedding components at 1e-6, squared distances at 1e-12)
so float-sum accumulation order can never flip an argmin or a rounded
inertia.  Each remaining float op (one division for a centroid
component, one subtract/multiply pair per dimension) is a single IEEE
primitive over identical operands in both engines.

The fit itself (``kmeans_fit``) and its label init live with the
index's codebook arithmetic in ``index/codebook.py``; this module holds
the registered query and the unrolled oracle CTE (``_kmeans_cte``) that
every codebook oracle shares.

Convergence (monotone non-increasing inertia) is asserted in
``tests/test_iterative.py``; exact equality with the unrolled oracle
in ``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.index.codebook import (
    _DSCALE,
    kmeans_fit,
    label_centroid_init,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table


def _kmeans_cte(
    n_iter: int = 5, source: str = "embeddings", cell_expr: str = "label"
) -> str:
    """The unrolled Lloyd CTE chain WITHOUT a final SELECT: ``WITH q AS
    (...), c0 AS (...), d1/a1/c1, ..., a{n_iter}`` — ``a{n_iter}`` is
    the final (vec_id, cell, dfp) assignment and ``q`` the quantized
    (vec_id, pos, vq) components.  Shared by the kmeans oracle and the
    wave-9/10/11 SemDeDup oracles so the cluster step can never drift
    between them.  ``source`` is the corpus relation — a table name or
    a parenthesized subquery (wave 10+ cluster the seen HALF for the
    persisted-codebook probes).  ``cell_expr`` is the init-cell
    expression over ``q``'s columns — ``label`` (default, one centroid
    per label) or a mod-hash like ``CAST(vec_id % (<k-subquery>) AS
    INT)`` (wave 11's adaptive codebook, where k is computed FROM the
    corpus at fit time — 'the Lloyd CTE already parameterizes k')."""
    steps = [
        f"""WITH q AS MATERIALIZED (
      SELECT vec_id, CAST(label AS INT) AS label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM {source}),
    c0 AS MATERIALIZED (
      SELECT {cell_expr} AS cell, pos,
             CAST(SUM(vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM q GROUP BY 1, 2)"""
    ]
    for i in range(1, n_iter + 1):
        steps.append(
            f"""d{i} AS MATERIALIZED (
      SELECT q.vec_id, c.cell,
             SUM(CAST(FLOOR((q.vq / 1000000.0 - c.c) * (q.vq / 1000000.0 - c.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM q JOIN c{i - 1} c ON c.pos = q.pos
      GROUP BY 1, 2),
    a{i} AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell,
             FIRST(dfp ORDER BY dfp, cell) AS dfp
      FROM d{i} GROUP BY vec_id)"""
        )
        if i < n_iter:
            steps.append(
                f"""c{i} AS MATERIALIZED (
      SELECT a.cell, q.pos,
             CAST(SUM(q.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM a{i} a JOIN q ON q.vec_id = a.vec_id
      GROUP BY 1, 2)"""
            )
    return ",\n    ".join(steps)


def _kmeans_oracle(n_iter: int = 5) -> str:
    """Unrolled Lloyd iterations as chained CTEs — the same quantized
    arithmetic as the Spark path, textually parallel per step, so the
    driver's value hash is exact (the 'iterated CTE' form VERDICT r2
    #7 asked for; fixed seed = deterministic per-label init)."""
    return (
        _kmeans_cte(n_iter)
        + f"""
    SELECT cell, COUNT(*) AS n_members,
           FLOOR(CAST(SUM(dfp) AS BIGINT) / 1000000000000.0 * 10000.0 + 0.5)
             / 10000.0 AS inertia
    FROM a{n_iter} GROUP BY cell"""
    )


def label_init_fit(emb: DataFrame) -> DataFrame:
    """The 5-iteration Lloyd fit from the per-label init that
    ``kmeans_embeddings`` and the SemDeDup pipeline share.  The final
    assignment ``kmeans_fit`` persists is read once into an eager
    ``localCheckpoint`` and released, so no CacheManager entry outlives
    the build for a later rep of the same plan to re-match."""
    assigned, _ = kmeans_fit(
        emb.select("vec_id", "embedding"), label_centroid_init(emb), n_iter=5
    )
    final = assigned.localCheckpoint()
    assigned.unpersist()
    return final


@query("kmeans_embeddings", oracle=_kmeans_oracle(5))
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 Lloyd iterations, k=10, init = per-label centroids
    (deterministic).  Output: per-cluster size and 4dp fixed-point
    inertia — exact-match against the unrolled-CTE oracle because
    every iteration's arithmetic is integer-quantized (module
    docstring)."""
    assigned = label_init_fit(load_table(spark, sf_dir, "embeddings"))
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.floor(
                F.sum("d_fp") / F.lit(_DSCALE) * F.lit(10000.0) + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("inertia"),
    )


_CANONICAL_ORACLE = """
    WITH RECURSIVE pairs AS (
      -- near-dup relation: shared 24-char prefix; emit only CONSECUTIVE
      -- ids per group so the closure must chain A-B-C (diameter > 1)
      SELECT prev AS id_a, doc_id AS id_b FROM (
        SELECT doc_id,
               LAG(doc_id) OVER (PARTITION BY substr(text, 1, 24)
                                 ORDER BY doc_id) AS prev
        FROM documents)
      WHERE prev IS NOT NULL),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node, MIN(root) AS canonical FROM reach GROUP BY node)
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(canonical AS BIGINT) AS canonical_id
    FROM comp
    WHERE node <> canonical
"""


@query("dedup_canonical_assignment", oracle=_CANONICAL_ORACLE)
def dedup_canonical_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one dedup: map every duplicate document to the minimum
    doc_id of its connected component.  The pair generator (shared
    24-char prefix here; exact/MinHash/embedding pairs in production)
    emits only consecutive-id edges per group, so components CHAIN —
    A~B, B~C implies {A,B,C} even though A~C was never emitted, which
    is exactly why dedup needs a closure, not a pairwise join.

    Spark side: iterative min-label propagation over the edge list
    with POINTER DOUBLING — each round a node adopts the min of its
    neighbours' labels and of its label's own label, so the frontier
    distance doubles per round and an L-node chain converges in
    O(log L) rounds, not L (8 rounds covers 256-hop chains).  Each
    round's labels are localCheckpoint-ed: caching alone keeps the
    DATA but Catalyst still re-analyzes the k-deep logical plan every
    round, which dominates (measured 33 s -> ~5 s at sf0.1);
    truncating lineage per round is the same discipline GraphFrames
    applies to its iterative algorithms.  The
    oracle walks the same closure with a recursive CTE.  At 100 TB
    this is the standard "dedup keep-one" reduce after any pair
    generator (exact, MinHash, embedding).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w_grp = Window.partitionBy(F.substring("text", 1, 24)).orderBy("doc_id")
    pairs = (
        docs.withColumn("prev", F.lag("doc_id").over(w_grp))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst"))
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()  # 9 consumers (8 rounds + seed labels);
    # eager in-region checkpoint, not persist — same measurement
    # semantics as the round-19 ladder migration (no cross-rep
    # CacheManager reuse of the warm-up's cached frame)

    # label propagation to fixpoint: label(node) = min reachable id
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .localCheckpoint()
    )
    # Both propagation joins pair O(duplicate-set) frames whose
    # localCheckpoint'd stats Catalyst cannot size statically — pin them
    # off the broadcast path so an AQE runtime estimate can never
    # upgrade a corpus-scaled labels frame to a driver-built broadcast
    # (VERDICT r6 #2: the same latent class as the r5 rehearsal OOM).
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast

    for _ in range(8):  # covers chains up to 2^8 hops via doubling
        one_hop = edges.join(
            never_broadcast(labels), edges.src == labels.node
        ).select(F.col("dst").alias("node"), "label")
        # pointer doubling: every label value is itself a node key, so
        # label(label) is always defined
        doubled = (
            never_broadcast(labels.alias("a"))
            .join(
                never_broadcast(labels.alias("b")),
                F.col("a.label") == F.col("b.node"),
            )
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        prop = (
            one_hop.unionByName(labels)
            .unionByName(doubled)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            prop.alias("p")
            .join(labels.alias("l"), "node")
            .filter(F.col("p.label") != F.col("l.label"))
            .limit(1)
            .count()
        )
        labels = prop
        if changed == 0:
            break
    return labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("label").cast("bigint").alias("canonical_id"),
    )
