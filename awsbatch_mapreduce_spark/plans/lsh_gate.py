"""The sequential near-dup ADMISSION GATE over the persisted LSH band
index, and the band index's takedown verb, as registered queries.

Documents arrive in four doc_id-quartile batches; each batch is probed
against the band index of previously ADMITTED docs and only its novel
docs' bands are appended (``index.bands.gate_batch``, the same step
the streaming operator runs per micro-batch inside its exactly-once
markers — stream == batch is pinned in tests/test_streaming_lsh.py).
Sequential admission is deliberately NOT the connected-components
keep-set (``dedup_canonical_assignment``): a chain A-B-C admits A and C
(B rejected, C never compared to the unadmitted B) — the semantics a
live ingest gate actually has, which is why the oracle unrolls the
sequence instead of reusing the closure oracle.

Both queries run one gate loop over a script of steps: ``batch`` gates
the next quartile, ``takedown`` removes every admitted doc with
doc_id % ``_TAKEDOWN_MOD`` == 0 from the band index before the next
batch.

The module also holds the one-shot novelty probe of a new batch (the
upper doc_id half) against the seen half: ``incremental_lsh_novelty``
probes an in-memory seen side and ``lsh_band_index_lifecycle`` the
persisted band index; both share one oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.bands import (
    append_bands,
    fresh_band_index,
    gate_batch,
    probe_bands,
    remove_docs_from_band_index,
)
from awsbatch_mapreduce_spark.operators.minhash import (
    _BANDS_SQL,
    _SH_SQL,
    _sig_sql,
    band_index_rows,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

_N_GATE_BATCHES = 4
_TAKEDOWN_MOD = 7


def _gate_stage(k: int, prior: str) -> str:
    """hits/adm CTE pair for batch ``k`` probing the union ``prior``."""
    return f""",
    h{k} AS (
      SELECT DISTINCT n.doc_id, s.doc_id AS seen_id
      FROM bands n
      JOIN tagged tn ON tn.doc_id = n.doc_id AND tn.batch_k = {k}
      JOIN bands s ON s.bk = n.bk
      JOIN {prior} a ON a.doc_id = s.doc_id),
    adm{k} AS (
      SELECT t.doc_id FROM tagged t
      WHERE t.batch_k = {k}
        AND t.doc_id NOT IN (SELECT doc_id FROM h{k}))"""


# The greedy gate unrolled over the four batches: admK = batch-K docs
# with no band shared with any EARLIER admitted doc.  Stages 1-3 and the
# tail are shared; the plain gate and the takedown variant differ ONLY
# in batch 4's seen side.
_GATE_ORACLE_PREFIX = (
    f"""
    WITH {_SH_SQL},
    e AS (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 1 // 4 AS q1,
                 MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 2 // 4 AS q2,
                 MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 3 // 4 AS q3
          FROM documents),
    {_sig_sql()},
    {_BANDS_SQL},
    tagged AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id <= e.q1 THEN 1
                  WHEN d.doc_id <= e.q2 THEN 2
                  WHEN d.doc_id <= e.q3 THEN 3
                  ELSE 4 END AS batch_k
      FROM documents d CROSS JOIN e),
    adm1 AS (SELECT doc_id FROM tagged WHERE batch_k = 1)"""
    + _gate_stage(2, "adm1")
    + """,
    adm12 AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2)"""
    + _gate_stage(3, "adm12")
    + """,
    adm123 AS (SELECT doc_id FROM adm12 UNION ALL SELECT doc_id FROM adm3)"""
)

_GATE_ORACLE_TAIL = """,
    nn AS (
      SELECT doc_id, COUNT(*) AS n_seen_nbrs FROM (
        SELECT * FROM h2
        UNION ALL SELECT * FROM h3
        UNION ALL SELECT * FROM h4) u
      GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.batch_k AS BIGINT) AS batch_k,
           CAST(COALESCE(nn.n_seen_nbrs, 0) AS BIGINT) AS n_seen_nbrs,
           CAST(CASE WHEN nn.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_admitted
    FROM tagged t LEFT JOIN nn ON nn.doc_id = t.doc_id
"""

_LSH_GATE_ORACLE = (
    _GATE_ORACLE_PREFIX + _gate_stage(4, "adm123") + _GATE_ORACLE_TAIL
)

_LSH_TAKEDOWN_ORACLE = (
    _GATE_ORACLE_PREFIX
    + f""",
    kept AS (SELECT doc_id FROM adm123 WHERE doc_id % {_TAKEDOWN_MOD} <> 0)"""
    + _gate_stage(4, "kept")
    + _GATE_ORACLE_TAIL
)


def _run_gate(
    spark: SparkSession, sf_dir: str, scratch: str, prefix: str, *script: str
) -> DataFrame:
    """Run ``script`` over the documents' quartile batches against a
    fresh band index ``{prefix}{tag}`` under the ``scratch`` dir (stale
    tags of the same prefix swept); returns every batch's verdicts."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    # oracle: lo + (hi - lo) * k // 4, ids positive
    edges = [b.lo - 1] + [
        b.lo + (b.hi - b.lo) * k // 4 for k in range(1, _N_GATE_BATCHES)
    ] + [b.hi]

    tbl = fresh_band_index(spark, sf_dir, scratch, prefix)

    bands = band_index_rows(docs).localCheckpoint()
    verdicts = []
    for step in script:
        k = len(verdicts) + 1
        if step == "takedown":
            # every doc admitted so far with doc_id % mod == 0: the
            # request may name any id (absent ids no-op in the
            # anti-join), so the %-filtered id range suffices
            doomed = docs.filter(
                (F.col("doc_id") <= F.lit(edges[k - 1]))
                & (F.pmod(F.col("doc_id"), F.lit(_TAKEDOWN_MOD)) == 0)
            ).select("doc_id")
            remove_docs_from_band_index(spark, tbl, doomed)
            continue
        batch = (F.col("doc_id") > F.lit(edges[k - 1])) & (
            F.col("doc_id") <= F.lit(edges[k])
        )
        verdicts.append(
            gate_batch(
                spark, tbl, docs.filter(batch).select("doc_id"),
                bands.filter(batch), k,
            )
        )
    return functools.reduce(DataFrame.unionByName, verdicts).select(
        "doc_id", "batch_k", "n_seen_nbrs", "is_admitted"
    )


@query("lsh_admission_gate", oracle=_LSH_GATE_ORACLE)
def lsh_admission_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential near-dup ADMISSION GATE over the persisted LSH band
    index (module docstring): documents arrive in {k} doc_id-quartile
    batches; each batch is signatured (the dedup ladder's exact
    minhash/band constants), probed against the band index of
    previously ADMITTED docs, and only NOVEL docs' bands are appended
    — near-dup rejection at the ingest boundary, the batch twin of
    ``streaming/lsh.py``'s exactly-once micro-batch gate.

    Output per document: (doc_id, batch_k, n_seen_nbrs, is_admitted).
    Batch-1 docs always admit (empty index); docs too short to shingle
    carry no bands and always admit — identically in both engines.

    Scale shape: per batch one signature pass over the batch only, one
    band join whose seen side is the bucketed index (bucket-pruned, no
    exchange — the ``lsh_band_index_lifecycle`` physical story), one
    bounded append of novel bands.  Nothing rescans admitted text; the
    index grows by NOVEL bands only (the gate shrinks it vs the
    admit-all lifecycle).  Data-scaled joins pinned sort-merge.

    Idempotent per run: the gate table is dropped and rebuilt, scratch
    under the per-fixture dir, stale tags swept."""
    return _run_gate(
        spark, sf_dir, "awsbatch_lsh_gate", "lsh_gate_idx_",
        *("batch",) * _N_GATE_BATCHES,
    )


@query("lsh_gate_takedown", oracle=_LSH_TAKEDOWN_ORACLE)
def lsh_gate_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEXT index's takedown verb, driver-gated (the deletion
    symmetry of ``codebook_tombstone_probe``): run the greedy gate for
    batches 1-3, then REMOVE every admitted doc with
    ``doc_id % {mod} == 0`` from the band index
    (``index.bands.remove_docs_from_band_index`` — crash-safe
    sibling-swap anti-join, idempotent), then gate batch 4 against the
    SURVIVORS.  Removed docs stop gating immediately: a batch-4 near
    duplicate of removed content is admissible again — the documented
    takedown semantics (stop HOLDING the content; a regime that must
    keep rejecting it tombstones verdicts instead).

    Oracle: the gate program with batch 4's seen side filtered to the
    kept admitted set — batches 1-3's verdicts are byte-identical to
    the plain gate's (removal happens after them), so the hash proves
    exactly and only the removal's effect on stage 4.

    Scale shape: the gate's (see ``lsh_admission_gate``) plus ONE
    anti-join rewrite of the bands-only index (small next to the
    corpus; broadcast side = the bounded removal request).

    Idempotent per run: own table + scratch, stale tags swept."""
    return _run_gate(
        spark, sf_dir, "awsbatch_lsh_takedown", "lsh_take_idx_",
        "batch", "batch", "batch", "takedown", "batch",
    )


lsh_admission_gate.__doc__ = lsh_admission_gate.__doc__.format(
    k=_N_GATE_BATCHES
)
lsh_gate_takedown.__doc__ = lsh_gate_takedown.__doc__.format(
    mod=_TAKEDOWN_MOD
)


# --- incremental LSH novelty probe ---------------------------------------


_INCR_LSH_ORACLE = f"""
    WITH {_SH_SQL},
    b AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
    {_sig_sql()},
    {_BANDS_SQL},
    hits AS (
      SELECT DISTINCT n.doc_id, s.doc_id AS seen_id
      FROM bands n JOIN bands s ON n.bk = s.bk CROSS JOIN b
      WHERE n.doc_id > b.mid AND s.doc_id <= b.mid),
    nn AS (SELECT doc_id, COUNT(*) AS n_seen_nbrs FROM hits GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(nn.n_seen_nbrs, 0) AS BIGINT) AS n_seen_nbrs,
           CAST(CASE WHEN nn.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_novel
    FROM documents d CROSS JOIN b
    LEFT JOIN nn ON nn.doc_id = d.doc_id
    WHERE d.doc_id > b.mid
"""


@query("incremental_lsh_novelty", oracle=_INCR_LSH_ORACLE)
def incremental_lsh_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup screening: each document of the new batch
    (upper doc_id half) probes the already-ingested corpus's LSH band
    index (lower half) and reports how many distinct seen docs share
    at least one band — the near-dup twin of
    ``incremental_dedup_new_docs``'s exact-digest membership test, and
    the daily-crawl operation that avoids re-running full-corpus
    ``dedup_minhash_lsh`` (quadratic over time) on every append.

    Docs too short to shingle (< 3 tokens) have no signature and are
    reported novel — identically in both engines.

    Scale shape: in production the seen side is a PERSISTED band-key
    index appended per batch, so each increment shuffles only the new
    batch's bands plus the band-bucket collisions; nothing rescans
    seen documents' text (``lsh_band_index_lifecycle``).  Both run one
    probe, ``index.bands.probe_bands``, here over the in-memory seen
    half: both join sides are data-scaled, so they carry the dedup
    ladder's ``never_broadcast`` pin (the r5 OOM class), and collision
    volume is bounded by the same band capacity argument as
    ``dedup_minhash_lsh_bucket_capped``.
    """
    docs = load_table(spark, sf_dir, "documents")
    # eager localCheckpoint: both the seen and new band branches consume
    # this frame; without it the shingle->signature pipeline (scan +
    # explode + distinct + groupBy) plans TWICE — the static plan showed
    # 0 ReusedExchange across the branches (alias-divergent subtrees)
    bands = band_index_rows(docs).localCheckpoint()
    mid = docs.agg(
        ((F.min("doc_id") + F.max("doc_id")) / F.lit(2))
        .cast("bigint")
        .alias("mid")
    )
    bands_m = bands.crossJoin(F.broadcast(mid))
    return probe_bands(
        spark,
        bands_m.filter(F.col("doc_id") > F.col("mid")).select("doc_id", "bk"),
        bands_m.filter(F.col("doc_id") <= F.col("mid")),
        docs.crossJoin(F.broadcast(mid))
        .filter(F.col("doc_id") > F.col("mid"))
        .select("doc_id"),
    )


# --- persisted LSH band-index lifecycle ----------------------------------


@query("lsh_band_index_lifecycle", oracle=_INCR_LSH_ORACLE)
def lsh_band_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted band-index lifecycle: WRITE the seen half's LSH band
    index as a bucketed table (bucketed+sorted on the band key), in two
    generations — an initial build (first quarter of doc_ids) plus an
    APPEND (second quarter, "the day's batch") — then PROBE it with the
    new batch (upper half).  Same output and SAME ORACLE as
    ``incremental_lsh_novelty``, so the driver itself proves the
    persisted path row-identical to the recompute path; what changes is
    the physical story:

    - the probe plan contains ZERO seen-side shingle/signature
      recompute — the seen side is a parquet scan of the index table
      (pinned by ``test_lifecycle_probe_has_no_seen_side_shingle_recompute``);
    - the table is bucketed on ``bk``, so the probe's band join reads
      the large, ever-growing index side with NO exchange; only the
      new batch's bands shuffle (into the table's bucket count).  At
      100 TB this is the difference between reshuffling the whole
      history every day and shuffling one day's crawl.

    Idempotent on a vanilla session called twice: catalog tables are
    dropped and rebuilt per call, data under a per-fixture scratch dir
    (never the fixture itself), stale generations age-swept — the
    ``bucketed_join_no_shuffle`` discipline.

    Scale shape: index build cost is one shingle->signature pass over
    the seen half (paid once, amortized over every future batch);
    append cost is one pass over the day's batch; probe shuffles only
    the new bands plus band-bucket collisions.  The table, its writes
    and the probe are ``index.bands``'s: the band probe and nn
    membership joins are data-scaled on both sides -> pinned sort-merge
    (``never_broadcast``); collision volume is bounded by the same band
    capacity argument as ``dedup_minhash_lsh_bucket_capped``.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive
    q1 = (b.lo + mid) // 2  # initial-build/append boundary (plan-internal)

    bands = band_index_rows(docs).localCheckpoint()
    tbl = fresh_band_index(
        spark, sf_dir, "awsbatch_lsh_index", "lsh_band_idx_",
        rows=bands.filter(F.col("doc_id") <= F.lit(q1)),
    )
    # the day's batch: append the second quarter WITHOUT touching the
    # initial generation
    append_bands(
        bands.filter(
            (F.col("doc_id") > F.lit(q1)) & (F.col("doc_id") <= F.lit(mid))
        ),
        tbl,
    )
    return probe_bands(
        spark,
        bands.filter(F.col("doc_id") > F.lit(mid)),
        tbl,
        docs.filter(F.col("doc_id") > F.lit(mid)).select("doc_id"),
    )
