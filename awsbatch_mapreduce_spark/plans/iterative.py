"""Iterative algorithms on the engine: Lloyd k-means over embeddings,
PageRank over the event-transition graph and power-iteration PCA.

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
    _LLOYD_ITERS,
    _quantize,
    kmeans_fit,
    label_centroid_init,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table


# Power-iteration rounds of ``pagerank_event_graph`` and
# ``pca_top_component``, shared by each builder loop and its oracle.
_PAGERANK_ITERS = 3
_PCA_ITERS = 5


def _kmeans_cte(source: str = "embeddings", cell_expr: str = "label") -> str:
    """The unrolled Lloyd CTE chain WITHOUT a final SELECT: ``WITH q AS
    (...), c0 AS (...), d1/a1/c1, ..., a5`` (``_LLOYD_ITERS``) — ``a5`` is
    the final (vec_id, cell, dfp) assignment and ``q`` the quantized
    (vec_id, pos, vq) components.  Shared by the kmeans oracle and the
    SemDeDup and codebook oracles so the cluster step can never drift
    between them.  ``source`` is the corpus relation — a table name or
    a parenthesized subquery (the persisted-codebook probes cluster
    the seen HALF).  ``cell_expr`` is the init-cell
    expression over ``q``'s columns — ``label`` (default, one centroid
    per label) or a mod-hash like ``CAST(vec_id % (<k-subquery>) AS
    INT)`` (the adaptive codebook, where k is computed FROM the
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
    for i in range(1, _LLOYD_ITERS + 1):
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
        if i < _LLOYD_ITERS:
            steps.append(
                f"""c{i} AS MATERIALIZED (
      SELECT a.cell, q.pos,
             CAST(SUM(q.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM a{i} a JOIN q ON q.vec_id = a.vec_id
      GROUP BY 1, 2)"""
            )
    return ",\n    ".join(steps)


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations as chained CTEs — the same quantized
    arithmetic as the Spark path, textually parallel per step, so the
    driver's value hash is exact (the 'iterated CTE' form VERDICT r2
    #7 asked for; fixed seed = deterministic per-label init)."""
    return (
        _kmeans_cte()
        + f"""
    SELECT cell, COUNT(*) AS n_members,
           FLOOR(CAST(SUM(dfp) AS BIGINT) / 1000000000000.0 * 10000.0 + 0.5)
             / 10000.0 AS inertia
    FROM a{_LLOYD_ITERS} GROUP BY cell"""
    )


def label_init_fit(emb: DataFrame) -> DataFrame:
    """The 5-iteration Lloyd fit from the per-label init that
    ``kmeans_embeddings`` and the SemDeDup pipeline share.  The final
    assignment ``kmeans_fit`` persists is read once into an eager
    ``localCheckpoint`` and released, so no CacheManager entry outlives
    the build for a later rep of the same plan to re-match."""
    assigned, _ = kmeans_fit(
        emb.select("vec_id", "embedding"), label_centroid_init(emb)
    )
    final = assigned.localCheckpoint()
    assigned.unpersist()
    return final


@query("kmeans_embeddings", oracle=_kmeans_oracle())
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


def _pagerank_oracle() -> str:
    """Unrolled power iteration in 1e-9 fixed-point integers (same
    discipline as the kmeans oracle): transition probabilities are 1e-6
    integer ratios, every contribution and damping step is integer
    arithmetic, so both engines produce bit-identical ranks."""
    steps = [
        """WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events),
    edges AS (
      SELECT event_type AS src, next_type AS dst, COUNT(*) AS n_ab
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2),
    outdeg AS (SELECT src, SUM(n_ab) AS n_a FROM edges GROUP BY src),
    w AS (
      SELECT e.src, e.dst,
             CAST(e.n_ab * 1000000 // o.n_a AS BIGINT) AS w_fp
      FROM edges e JOIN outdeg o USING (src)),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (
      SELECT node, CAST(1000000000 // nn.n AS BIGINT) AS pr_fp
      FROM nodes, nn)"""
    ]
    for i in range(1, _PAGERANK_ITERS + 1):
        steps.append(
            f"""pr{i} AS (
      SELECT n.node,
             CAST((1000000000 - 850000000) // nn.n AS BIGINT)
             + CAST(COALESCE(SUM(p.pr_fp * w.w_fp * 85), 0)
                    // 100000000 AS BIGINT) AS pr_fp
      FROM nodes n CROSS JOIN nn
      LEFT JOIN w ON w.dst = n.node
      LEFT JOIN pr{i - 1} p ON p.node = w.src
      GROUP BY n.node, nn.n)"""
        )
    return (
        ",\n    ".join(steps)
        + f"""
    SELECT node AS event_type, pr_fp AS pagerank_fp
    FROM pr{_PAGERANK_ITERS}"""
    )


@query("pagerank_event_graph", oracle=_pagerank_oracle())
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 power iterations) over the event-type
    transition graph — which states dominate user journeys.  The second
    iterative algorithm on the engine (after k-means), same recipe:
    fixed iteration count, integer-quantized arithmetic, oracle
    unrolled as chained CTEs.

    Scale shape: the edge list aggregates out of the fact table in one
    shuffle (LEAD is per-user partitioned); after that every iteration
    runs on the node/edge tables, whose cardinality is the *event-type
    domain* (bounded), not the event count — iterations are
    broadcast-sized no matter the fact volume.  Mass from dangling
    nodes leaks (standard simplification) identically in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(wseq).alias("next_type"),
    )
    edges = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("n_ab").alias("n_a"))
    w = edges.join(outdeg, "src").select(
        "src", "dst", F.expr("CAST(n_ab * 1000000 div n_a AS BIGINT)").alias("w_fp")
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr("CAST(1000000000 div n AS BIGINT)").alias("pr_fp")
    )
    for _ in range(_PAGERANK_ITERS):
        contrib = w.join(pr, w.src == pr.node).select(
            F.col("dst"), (F.col("pr_fp") * F.col("w_fp") * F.lit(85)).alias("t")
        )
        pr = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .groupBy("node")
            .agg(
                F.coalesce(F.sum("t"), F.lit(0)).alias("mass")
            )
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.expr("CAST((1000000000 - 850000000) div n AS BIGINT)")
                    + F.expr("CAST(mass div 100000000 AS BIGINT)")
                ).alias("pr_fp"),
            )
        )
    return pr.select(
        F.col("node").alias("event_type"), F.col("pr_fp").alias("pagerank_fp")
    )


def _pca_oracle() -> str:
    """Unrolled power iteration for the top principal component, in
    pure integer arithmetic end-to-end: quantized components (1e-6),
    integer mean, integer covariance (1e-12, normalized by n), and
    L-infinity-normalized iteration vectors (1e-6) — no float op ever
    executes, so cross-engine equality is exact by construction.
    Both engines truncate integer division toward zero (verified)."""
    steps = [
        """WITH q AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    m AS MATERIALIZED (
      SELECT pos, CAST(CAST(SUM(vq) AS BIGINT) // nn.n AS BIGINT) AS m_fp
      FROM q, nn GROUP BY pos, nn.n),
    c AS MATERIALIZED (
      SELECT q.vec_id, q.pos, q.vq - m.m_fp AS x
      FROM q JOIN m USING (pos)),
    cov AS MATERIALIZED (
      SELECT a.pos AS j, b.pos AS k,
             CAST(CAST(SUM(a.x * b.x) AS BIGINT) // nn.n // 1000000
                  AS BIGINT) AS c6
      FROM c a JOIN c b ON b.vec_id = a.vec_id, nn
      GROUP BY a.pos, b.pos, nn.n),
    v0 AS (SELECT pos, CAST(1000000 AS BIGINT) AS v_fp FROM m)"""
    ]
    for i in range(1, _PCA_ITERS + 1):
        steps.append(
            f"""w{i} AS MATERIALIZED (
      SELECT cov.j AS pos,
             CAST(CAST(SUM(cov.c6 * v.v_fp) AS BIGINT) AS BIGINT) AS w
      FROM cov JOIN v{i - 1} v ON v.pos = cov.k
      GROUP BY cov.j),
    v{i} AS MATERIALIZED (
      SELECT pos,
             CAST(w // GREATEST(mx // 1000000, 1) AS BIGINT) AS v_fp
      FROM w{i}, (SELECT MAX(ABS(w)) AS mx FROM w{i}))"""
        )
    return (
        ",\n    ".join(steps)
        + f"""
    SELECT CAST(pos AS BIGINT) AS pos, v_fp AS eigvec_fp FROM v{_PCA_ITERS}"""
    )


@query("pca_top_component", oracle=_pca_oracle())
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by 5 rounds of
    power iteration on the integer covariance matrix — the embedding-
    analysis primitive behind drift detection, whitening, and "is one
    direction eating my embedding space" diagnostics.

    Scale shape: the covariance build is the only fact-sized stage —
    a self-join on vec_id (d^2 rows per vector, partial-aggregated
    before the (j, k) shuffle, d = 64 here); every iteration after
    runs on d-row / d^2-row tables, all broadcast.  Arithmetic is
    integer end-to-end (quantized components, integer mean and
    covariance, L-infinity normalization), so no float accumulation
    order exists anywhere — the oracle (same steps, unrolled CTEs)
    matches bit-exactly.  At 100 TB you'd sketch the covariance with
    the same partial aggregate; the iteration cost is unchanged.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(_quantize(F.col("embedding"))).alias("pos0", "vq"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "vq")
    nn = emb.agg(F.count(F.lit(1)).alias("n"))
    m = (
        q.groupBy("pos")
        .agg(F.sum("vq").alias("s"))
        .crossJoin(F.broadcast(nn))
        .select("pos", F.expr("CAST(s div n AS BIGINT)").alias("m_fp"))
    )
    c = q.join(F.broadcast(m), "pos").select(
        "vec_id", "pos", (F.col("vq") - F.col("m_fp")).alias("x")
    )
    a = c.select("vec_id", F.col("pos").alias("j"), F.col("x").alias("xj"))
    b = c.select("vec_id", F.col("pos").alias("k"), F.col("x").alias("xk"))
    # d^2-row covariance and d-row init vector are localCheckpoint-ed:
    # without it the unrolled 5-iteration lineage re-plans (and
    # re-executes) the fact-sized self-join per iteration — 653
    # static-plan exchanges, 9.0 s at sf0.01; with it, single-digit
    # exchanges, 2.5 s, row-identical (round 9; the same lineage-
    # truncation discipline as dedup_canonical_assignment).
    cov = (
        a.join(b, "vec_id")
        .groupBy("j", "k")
        .agg(F.sum(F.col("xj") * F.col("xk")).alias("s"))
        .crossJoin(F.broadcast(nn))
        .select(
            "j", "k", F.expr("CAST(s div n div 1000000 AS BIGINT)").alias("c6")
        )
        .localCheckpoint()
    )
    v = m.select(
        "pos", F.lit(1000000).cast("bigint").alias("v_fp")
    ).localCheckpoint()
    for _ in range(_PCA_ITERS):
        w = (
            cov.join(F.broadcast(v), cov.k == v.pos)
            .groupBy("j")
            .agg(F.sum(F.col("c6") * F.col("v_fp")).alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        # per-iteration checkpoint of the d-row vector: v_i references
        # w_i twice (the join and the mx scalar), so an unchecked chain
        # doubles per iteration (93 plan exchanges); checkpointed, the
        # whole query plans in single digits
        v = (
            w.crossJoin(F.broadcast(mx))
            .select(
                F.col("j").alias("pos"),
                F.expr(
                    "CAST(w div greatest(mx div 1000000, 1) AS BIGINT)"
                ).alias("v_fp"),
            )
            .localCheckpoint()
        )
    return v.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v_fp").alias("eigvec_fp"),
    )
