"""k-means convergence: inertia must be monotone non-increasing."""

from __future__ import annotations

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.index.codebook import kmeans_fit
from awsbatch_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR_ORACLE


def test_kmeans_inertia_monotone(spark):
    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    init = (
        emb.select(
            F.col("label").cast("int").alias("cell"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("cv"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )
    assigned, trace = kmeans_fit(corpus, init, n_iter=4)
    assert len(trace) == 4
    assert all(b <= a + 1e-9 for a, b in zip(trace, trace[1:])), trace
    assert trace[-1] < trace[0]  # labels are weak clusters; must improve
    assigned.unpersist()


def test_kmeans_query_shape(spark):
    df = QUERIES["kmeans_embeddings"].builder(spark, SF_DIR_ORACLE)
    rows = df.collect()
    assert sum(r.n_members for r in rows) == 500
    assert all(r.inertia >= 0 for r in rows)


def test_assign_literal_callers_pass_unique_vec_ids(spark, monkeypatch):
    """``_assign_literal`` emits one row per input row, so its callers
    must pass frames keyed by ``vec_id`` (the crossJoin form it replaced
    collapsed duplicates).  Records the input frame of every call made
    by the queries that reach it, and checks each caller is covered and
    each frame's ids are unique."""
    import sys

    from awsbatch_mapreduce_spark.index import codebook
    from tests.conftest import SF_DIR

    inputs: dict = {}
    orig = codebook._assign_literal

    def recording(q, *args, **kwargs):
        site = sys._getframe(1).f_code.co_name, sys._getframe(2).f_code.co_name
        inputs.setdefault(site, {})[id(q)] = q
        return orig(q, *args, **kwargs)

    # kmeans_fit and the collected assignments both live in codebook
    monkeypatch.setattr(codebook, "_assign_literal", recording)
    for name in (
        "kmeans_embeddings",
        "semdedup_codebook_novelty",
        "semdedup_codebook_capacity",
        "semdedup_codebook_refit",
    ):
        QUERIES[name].builder(spark, SF_DIR).collect()
    assert set(inputs) == {
        ("kmeans_fit", "label_init_fit"),
        ("kmeans_fit", "semdedup_codebook_novelty"),
        ("kmeans_fit", "build_generation"),
        ("assign_to_cells_collected", "semdedup_codebook_novelty"),
        ("assign_to_cells_collected", "_assign"),
        ("assign_to_cells_collected", "admit_batch"),
    }, sorted(inputs)
    for site, frames in inputs.items():
        for q in frames.values():
            dup = q.groupBy("vec_id").count().filter("count > 1").limit(1).collect()
            assert not dup, (site, dup)
