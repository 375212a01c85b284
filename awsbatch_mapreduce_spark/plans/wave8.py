"""Wave-8 queries (round 7): skew-safe twins of hot-key-vulnerable
operators, plus the shingle-keyed cap tuning curve.

Round 7's theme is the gap between uniform-corpus scale evidence and a
real 100 TB corpus, whose mass concentrates on hot keys (heavy users,
boilerplate cliques, whale customers).  Two operator families here are
the mitigation plans, each registered against the SAME oracle as its
plain twin — the equivalence proof that the skew-safe plan computes
identical results:

- ``salted_topk_orders_per_customer`` vs ``window_top_orders_per_customer``
  (two-phase bucketed ranking vs one hot-key window sort);
- ``sessionization_time_sliced`` vs ``events_sessionization``
  (bounded per-(user, slice) windows + session-level merge vs an
  unbounded per-user window).

Reference parity note: the reference engine has no skew handling at
all (its reduce stage is a single-node pandas concat,
``Reduce.ps1``/``Implementation.cs``); these operators exist because a
1000-executor Spark run needs them, not because the reference had them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.index.bands import probe_bands
from awsbatch_mapreduce_spark.operators.minhash import (
    _BANDS_SQL,
    _SH_SQL,
    _VERIFY_SQL,
    _cand_sql,
    _sig_sql,
    band_index_rows,
    band_keys,
    candidate_pairs,
    shared_shingles,
    shingles,
    signatures,
)
from awsbatch_mapreduce_spark.operators.skew import two_phase_topk
from awsbatch_mapreduce_spark.plans.events import SESSIONIZATION_ORACLE
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.relational import WINDOW_TOPK_ORACLE
from awsbatch_mapreduce_spark.sources.tables import load_table


@query("salted_topk_orders_per_customer", oracle=WINDOW_TOPK_ORACLE, wave=8)
def salted_topk_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 orders per customer via the two-phase salted ranking
    operator (``operators/skew.py:two_phase_topk``) — the skew-safe
    twin of ``window_top_orders_per_customer``, sharing its oracle so
    the driver proves the two plans return identical rows.

    Scale shape: phase 1 shuffles on (o_custkey, salt) — a customer
    holding 30% of all orders spreads over 16 buckets instead of one
    task's sort — and keeps <= k rows per bucket; phase 2's per-key
    partitions are bounded at 16*k = 48 rows by construction.  The
    skew rehearsal (SCALING.md round 7) measures both twins on the
    hot-customer tiling.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return two_phase_topk(
        orders,
        key="o_custkey",
        order_cols=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        salt_from="o_orderkey",
        n_salts=16,
    )


_GAP_US = 30 * 60 * 1_000_000
# slice width MUST exceed the session gap: then a session can never
# span an eventless slice, so merging ADJACENT slice-sessions (single
# lag, no running max) reconstructs exact sessions.
_SLICE_US = 6 * 3600 * 1_000_000


@query("sessionization_time_sliced", oracle=SESSIONIZATION_ORACLE, wave=8)
def sessionization_time_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization computed scalably: sessionize within
    bounded (user_id, 6h-slice) window partitions, then merge sessions
    across slice boundaries at the SESSION level — the scale answer to
    ``events_sessionization``'s docstring caveat ("survives any scale
    where a single user's history fits a partition; salt or time-slice
    beyond that").  Same oracle as the plain operator: the driver
    proves slice-and-merge returns byte-identical sessions.

    Why it is exact: slices partition event time, in-slice runs are the
    true sessions restricted to the slice, and since the slice width
    (6 h) exceeds the gap (30 min) a true session can never jump an
    empty slice — so joining a slice-session to its predecessor when
    ``start - prev_end <= gap`` (one LAG over per-user SESSIONS, a
    frame compressed by orders of magnitude vs events) reconstructs
    exactly the unbounded computation.

    Scale shape: the events-level window partitions by (user, slice) —
    a hot user's history splits across slices, bounding every sort by
    the user's per-6h event rate; the merge pass partitions by user
    over session summaries only.  At 100 TB: thousands of sessions per
    user-year vs billions of events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    sliced = ev.withColumn(
        "slice", F.floor(F.col("ts_us") / F.lit(_SLICE_US))
    )
    w_lag = Window.partitionBy("user_id", "slice").orderBy("ts_us", "event_id")
    flagged = sliced.select(
        "user_id",
        "slice",
        "ts_us",
        "event_id",
        F.when(
            F.lag("ts_us").over(w_lag).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w_lag) > _GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id", "slice")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    slice_sessions = (
        flagged.withColumn("sub", F.sum("is_new").over(w_run))
        .groupBy("user_id", "slice", "sub")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )
    # merge pass over SESSIONS: starts are strictly increasing per user
    # (sessions are disjoint time intervals), so one lag suffices
    w_u = Window.partitionBy("user_id").orderBy("start_us")
    merged = slice_sessions.select(
        "user_id",
        "n_events",
        "start_us",
        "end_us",
        F.when(
            F.lag("end_us").over(w_u).isNull()
            | (F.col("start_us") - F.lag("end_us").over(w_u) > _GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_ur = (
        Window.partitionBy("user_id")
        .orderBy("start_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        merged.withColumn(
            "session_id", F.sum("new_sess").over(w_ur).cast("bigint")
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.min("start_us").alias("session_start_us"),
            F.max("end_us").alias("session_end_us"),
        )
    )


_BUCKET_CAP = 48

_LSH_CAPPED_ORACLE = f"""
    WITH {_SH_SQL},
    {_sig_sql()},
    {_BANDS_SQL},
    ok AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= {_BUCKET_CAP}),
    capped AS (SELECT bands.doc_id, bands.bk FROM bands JOIN ok USING (bk)),
    {_cand_sql("capped")},
    {_VERIFY_SQL}
    SELECT id_a, id_b,
           FLOOR((n_common * 1.0 / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
"""


@query("dedup_minhash_lsh_bucket_capped", oracle=_LSH_CAPPED_ORACLE, wave=8)
def dedup_minhash_lsh_bucket_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash-LSH near-dup with a band-bucket size cap — the skew
    escape valve for the LSH ladder itself.  A boilerplate mega-clique
    puts its whole membership into ONE band bucket, whose self-join is
    quadratic in clique size (the round-7 skew rehearsal measured a 1%
    clique multiplying LSH output 18x at sf1); capping bucket size at
    48 sheds exactly those pathological buckets before the candidate
    join, bounding per-bucket work at cap^2 regardless of corpus shape.
    The shed is corpus-dependent and deliberate: a clique that wide is
    exact-dedup's job (``dedup_exact`` collapses byte-identical docs
    first in the production funnel), not pairwise verification's.

    Same plan pins as the uncapped operator (every data-scaled join
    side sort-merge); the cap's semi-join runs on the O(buckets) band
    frame and is itself pinned.
    """
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast
    from awsbatch_mapreduce_spark.functions.rounding import dround

    sh = shingles(load_table(spark, sf_dir, "documents")).localCheckpoint()
    bands = band_keys(signatures(sh)).localCheckpoint()
    ok = never_broadcast(
        bands.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") <= _BUCKET_CAP)
        .select("bk")
    )
    capped = bands.join(ok, "bk", "semi")
    cand = (
        candidate_pairs(capped)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    inter = shared_shingles(cand, sh)
    return inter.select(
        "id_a",
        "id_b",
        dround(
            F.col("n_common")
            * 1.0
            / (F.col("na") + F.col("nb") - F.col("n_common")),
            4,
        ).alias("jaccard"),
    )


_SHINGLE_CAPS = [16, 32, 64, 128, 256]

_SHINGLE_CAP_ORACLE = f"""
    WITH {_SH_SQL.strip().rstrip()},
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    caps AS (SELECT unnest([{", ".join(str(c) for c in _SHINGLE_CAPS)}]) AS cap)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN 1 END), 0) AS BIGINT)
             AS n_shingles_kept,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN df * (df - 1) // 2 END), 0)
             AS BIGINT) AS candidate_pairs,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN 1 END), 0) AS BIGINT)
             AS n_shingles_dropped,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN df END), 0) AS BIGINT)
             AS postings_dropped
    FROM df CROSS JOIN caps
    GROUP BY cap
"""


@query("shingle_df_cap_curve", oracle=_SHINGLE_CAP_ORACLE, wave=8)
def shingle_df_cap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair volume vs document-frequency cap over the SAME
    3-token shingles the LSH ladder uses — the shingle-keyed twin of
    ``df_cap_candidate_curve`` (whose docstring scopes itself to token
    caps; ADVICE r6 asked for this curve to genuinely price
    ``minhash_lsh_eval``'s df > 64 shingle cut).  For each cap: the
    shingles kept, the worst-case candidate pairs they imply
    (df*(df-1)/2), and the shingles/postings the cap discards.

    Scale shape: one shingle explode (shared builder with the dedup
    ladder, ``operators.minhash.shingles``), one shingle-keyed rollup with
    map-side partials, a 5-way literal explode, a 5-group aggregate —
    no joins; strictly cheaper than the LSH eval it tunes.
    """
    sh = shingles(load_table(spark, sf_dir, "documents"))
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    caps = F.explode(F.array(*[F.lit(c) for c in _SHINGLE_CAPS])).alias("cap")
    curve = df.select("df", caps)
    kept = F.col("df") <= F.col("cap")
    return curve.groupBy(F.col("cap").cast("bigint").alias("cap")).agg(
        F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_shingles_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.expr("df * (df - 1) div 2"))), F.lit(0)
        )
        .cast("bigint")
        .alias("candidate_pairs"),
        F.coalesce(F.sum(F.when(~kept, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_shingles_dropped"),
        F.coalesce(F.sum(F.when(~kept, F.col("df"))), F.lit(0))
        .cast("bigint")
        .alias("postings_dropped"),
    )


_CLIQUE_HIST_ORACLE = """
    WITH g AS (SELECT md5(text) AS fp, COUNT(*) AS n
               FROM documents GROUP BY 1)
    SELECT CAST(n AS BIGINT) AS clique_size,
           CAST(COUNT(*) AS BIGINT) AS n_cliques,
           CAST(n * COUNT(*) AS BIGINT) AS n_docs
    FROM g GROUP BY n
"""


@query("dup_clique_size_histogram", oracle=_CLIQUE_HIST_ORACLE, wave=8)
def dup_clique_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of exact-duplicate clique sizes: how many
    fingerprint groups exist at each multiplicity, and how many docs
    they hold.  The corpus-health read behind every cap in the dedup
    ladder: wide cliques are where pairwise output goes quadratic (the
    round-7 skew rehearsal measured a single 500-doc clique multiplying
    near-dup output 18x), and this histogram is the early warning that
    says whether `dedup_exact`'s keep-one collapse has been run before
    the pair emitters — the production ordering that keeps
    `dedup_minhash_lsh_bucket_capped`'s shed at zero.

    Scale shape: one digest-keyed rollup (16-byte md5 shuffle keys,
    never bodies) and one |distinct sizes|-bounded rollup on top —
    map-side partials everywhere, no joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        groups.groupBy(F.col("n").cast("bigint").alias("clique_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cliques"))
        .select(
            "clique_size",
            "n_cliques",
            (F.col("clique_size") * F.col("n_cliques"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


# --- split-leakage audit -------------------------------------------------

_SPLIT_LEAK_ORACLE = """
    WITH d AS (
      SELECT md5(substr(text, 1, 24)) AS fp,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
               % 100 AS b_id,
             ('0x' || substr(md5(md5(substr(text, 1, 24))), 1, 8))::UBIGINT
               % 100 AS b_ct
      FROM documents),
    m AS (
      SELECT 'by_doc_id' AS split_mode, fp,
             CASE WHEN b_id < 80 THEN 'train'
                  WHEN b_id < 90 THEN 'val' ELSE 'test' END AS split
      FROM d
      UNION ALL
      SELECT 'by_content', fp,
             CASE WHEN b_ct < 80 THEN 'train'
                  WHEN b_ct < 90 THEN 'val' ELSE 'test' END
      FROM d),
    g AS (SELECT split_mode, fp, split, COUNT(*) AS ns
          FROM m GROUP BY 1, 2, 3),
    c AS (SELECT split_mode, fp,
                 SUM(ns) AS n,
                 SUM(ns * (ns - 1) // 2) AS same_pairs
          FROM g GROUP BY 1, 2)
    SELECT split_mode,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_dup_pairs,
           CAST(SUM(n * (n - 1) // 2 - same_pairs) AS BIGINT)
             AS n_leaked_pairs,
           CAST(SUM(n * (n - 1) // 2 - same_pairs) * 1000000
                // GREATEST(SUM(n * (n - 1) // 2), 1) AS BIGINT)
             AS leak_ppm
    FROM c GROUP BY 1
"""


@query("split_leakage_audit", oracle=_SPLIT_LEAK_ORACLE, wave=8)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the train/val/test split leak duplicate content across the
    boundary?  Audits two split functions against the corpus's
    near-dup clique structure — groups keyed on the same 24-char
    content prefix that ``dedup_canonical_assignment``'s pair
    generator uses (the fixture has such groups at every SF; byte-
    exact dups would be a stricter, sparser key): the id-keyed
    80/10/10 split (``train_val_test_split``'s rule — the classic
    bug, because copies of one document carry different doc_ids and
    land in different splits) and a content-keyed split (bucket on
    the group key — all copies travel together, leakage provably
    zero).  One row per mode: total within-clique pairs, pairs
    crossing a split boundary, and the leak rate in ppm.

    The pair counts are computed WITHOUT a pair join: for a clique of
    n docs with n_s per split, leaked = C(n,2) - sum_s C(n_s,2) —
    pure per-fingerprint aggregation, so a 500-doc boilerplate clique
    costs one histogram row, not 125k pair rows.

    Scale shape: two digest-keyed rollups (16-byte md5 shuffle keys)
    and a 2-row final aggregate; no joins, no pair materialization,
    map-side partials everywhere.  Same cost profile as
    ``dedup_exact`` at any corpus size.
    """
    from awsbatch_mapreduce_spark.plans.sampling import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.substring("text", 1, 24))
    d = docs.select(
        fp.alias("fp"),
        md5_bucket("doc_id", 100).alias("b_id"),
        md5_bucket(fp, 100).alias("b_ct"),
    )

    def _split(b):
        return (
            F.when(F.col(b) < 80, "train")
            .when(F.col(b) < 90, "val")
            .otherwise("test")
        )

    m = d.select(
        F.lit("by_doc_id").alias("split_mode"), "fp", _split("b_id").alias("split")
    ).unionAll(
        d.select(
            F.lit("by_content").alias("split_mode"),
            "fp",
            _split("b_ct").alias("split"),
        )
    )
    g = m.groupBy("split_mode", "fp", "split").agg(
        F.count(F.lit(1)).alias("ns")
    )
    c = g.groupBy("split_mode", "fp").agg(
        F.sum("ns").alias("n"),
        F.sum(F.expr("ns * (ns - 1) div 2")).alias("same_pairs"),
    )
    pairs = F.sum(F.expr("n * (n - 1) div 2"))
    leaked = F.sum(F.expr("n * (n - 1) div 2 - same_pairs"))
    return (
        c.groupBy("split_mode")
        .agg(
            pairs.cast("bigint").alias("n_dup_pairs"),
            leaked.cast("bigint").alias("n_leaked_pairs"),
        )
        .withColumn(
            "leak_ppm",
            F.expr(
                "CAST(n_leaked_pairs * 1000000"
                " div GREATEST(n_dup_pairs, CAST(1 AS BIGINT)) AS BIGINT)"
            ),
        )
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


@query("incremental_lsh_novelty", oracle=_INCR_LSH_ORACLE, wave=8)
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


# --- histogram-based exact per-language percentile gate ------------------

_LANG_P10_ORACLE = """
    WITH v AS (
      SELECT lang, len(string_split(text, ' ')) AS nt FROM documents),
    h AS (SELECT lang, nt, COUNT(*) AS c FROM v GROUP BY 1, 2),
    t AS (SELECT lang, SUM(c) AS n FROM h GROUP BY 1),
    cum AS (
      SELECT lang, nt,
             SUM(c) OVER (PARTITION BY lang ORDER BY nt) AS cc
      FROM h),
    cut AS (
      SELECT cum.lang, MIN(cum.nt) AS p10
      FROM cum JOIN t USING (lang)
      WHERE cum.cc >= (t.n + 9) // 10
      GROUP BY 1)
    SELECT h.lang,
           CAST(MAX(t.n) AS BIGINT) AS n_docs,
           CAST(MAX(cut.p10) AS BIGINT) AS p10_tokens,
           CAST(COALESCE(SUM(h.c) FILTER (WHERE h.nt < cut.p10), 0)
                AS BIGINT) AS n_below_cut
    FROM h JOIN t USING (lang) JOIN cut USING (lang)
    GROUP BY h.lang
"""


@query("lang_token_p10_gate", oracle=_LANG_P10_ORACLE, wave=8)
def lang_token_p10_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language length floor: the EXACT 10th-percentile
    token count per language (rank ceil(n/10) on the sorted counts)
    and how many documents fall below it — the per-stratum adaptive
    threshold that replaces one global length cut (which over-prunes
    terse languages and under-prunes verbose ones).

    Third exact-quantile recipe on the engine, picked by value-domain
    shape: ``events_quantiles_exact`` bands an UNBOUNDED float domain;
    here token counts are small integers, so the corpus collapses to a
    (lang, n_tokens) histogram first and every rank operation runs on
    that bounded frame.  The cumulative window partitions are
    histogram-sized, never corpus-sized — no hot-key sort at any
    corpus scale.

    Scale shape: one map + one (lang, nt)-keyed partial-agg shuffle is
    the only corpus-sized work; the window/join/final-agg all run on
    the bounded histogram, so the exact percentile costs the same at
    100 TB as at sf0.01.
    """
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select("lang", F.size(F.split("text", " ")).alias("nt"))
    h = v.groupBy("lang", "nt").agg(F.count(F.lit(1)).alias("c"))
    t = h.groupBy("lang").agg(F.sum("c").alias("n"))
    cum = h.select(
        "lang",
        "nt",
        "c",
        F.sum("c")
        .over(Window.partitionBy("lang").orderBy("nt"))
        .alias("cc"),
    )
    cut = (
        cum.join(F.broadcast(t), "lang")
        .filter(F.col("cc") >= F.expr("(n + 9) div 10"))
        .groupBy("lang")
        .agg(F.min("nt").alias("p10"))
    )
    return (
        h.join(F.broadcast(t), "lang")
        .join(F.broadcast(cut), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.max("p10").cast("bigint").alias("p10_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("nt") < F.col("p10"), F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_below_cut"),
        )
    )


# --- near-dup component-size histogram -----------------------------------

_COMPONENT_HIST_ORACLE = """
    WITH RECURSIVE pairs AS (
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
    comp AS (SELECT node, MIN(root) AS canonical FROM reach GROUP BY node),
    sizes AS (SELECT canonical, COUNT(*) AS s FROM comp GROUP BY canonical)
    SELECT CAST(s AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(s * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY s
"""


@query("near_dup_component_histogram", oracle=_COMPONENT_HIST_ORACLE, wave=8)
def near_dup_component_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup CONNECTED COMPONENTS — the
    post-closure twin of ``dup_clique_size_histogram``: that probe
    reads raw exact-fingerprint groups, this one reads what keep-one
    dedup will actually collapse after the closure chains the pair
    list back together (the generator emits only consecutive-id edges
    per group, so a size-n family reassembles from an (n-1)-edge
    chain).  With THIS generator the pair groups are disjoint
    (one 24-char prefix per doc), so components equal prefix groups —
    pinned as a test invariant; with production pair generators
    (MinHash ∪ embedding ∪ exact), groups overlap and the gap between
    the two histograms measures the chaining effect that assembles
    mega-components out of mild pairwise overlap.

    Composed from ``dedup_canonical_assignment``'s registered builder
    (wave-7 discipline: one closure implementation, two consumers, so
    the oracles cannot drift): component size = members mapped to a
    canonical + the canonical itself.  Singleton docs (no near-dup
    edge) are out of scope by construction — the histogram prices the
    collapse, and singletons don't collapse.

    Scale shape: the closure's own cost (pointer doubling, O(log L)
    rounds, label frames localCheckpoint-ed) plus two bounded rollups
    — the size histogram domain is |distinct component sizes|.
    """
    from awsbatch_mapreduce_spark.plans.iterative import (
        dedup_canonical_assignment,
    )

    assignment = dedup_canonical_assignment(spark, sf_dir)
    sizes = assignment.groupBy("canonical_id").agg(
        (F.count(F.lit(1)) + F.lit(1)).alias("component_size")
    )
    return (
        sizes.groupBy("component_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .select(
            F.col("component_size").cast("bigint").alias("component_size"),
            "n_components",
            (F.col("component_size") * F.col("n_components"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


# --- embedding label-outlier screen --------------------------------------

_EMB_OUTLIER_K = 20

_EMB_OUTLIER_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
                  AS BIGINT) AS vfp
      FROM embeddings),
    c AS (
      SELECT label, i,
             CAST((num - (((num % den) + den) % den)) / den AS BIGINT)
               AS cfp
      FROM (SELECT label, i,
                   2 * SUM(vfp) + COUNT(*) AS num,
                   2 * COUNT(*) AS den
            FROM e GROUP BY label, i)),
    d AS (
      SELECT e.vec_id, e.label,
             SUM(e.vfp * c.cfp) AS dot,
             SUM(e.vfp * e.vfp) AS na,
             SUM(c.cfp * c.cfp) AS nc
      FROM e JOIN c ON c.label = e.label AND c.i = e.i
      GROUP BY 1, 2)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS INT) AS label,
           CAST(FLOOR(dot / (sqrt(na) * sqrt(nc)) * 10000.0 + 0.5)
                AS BIGINT) AS cosine_bp
    FROM d
    WHERE na > 0 AND nc > 0
    ORDER BY cosine_bp ASC, vec_id ASC
    LIMIT {_EMB_OUTLIER_K}
"""


@query("embedding_label_outliers", oracle=_EMB_OUTLIER_ORACLE, wave=8)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: the {k} vectors LEAST aligned with their own
    label's centroid (cosine in basis points, ascending) — the cheap
    mislabeled/contaminated-sample detector run before training on a
    labeled embedding corpus, and the per-vector drill-down behind
    ``embedding_centroid_drift``'s label-level health read.

    Determinism recipe: vector components quantize to 4 decimals (the
    IVF-codebook discipline) and the centroid component is
    round-half-up(sum/n) computed entirely in int64
    (floor((2S+n)/(2n)) via pmod — no float accumulation anywhere), so
    the dot product and both norms are EXACT int64 arithmetic —
    order-independent under any partitioning; only the final cosine
    touches floats (sqrt of exact integers), rounded once to bp.  At 64 dims
    and |v| <= 1, the integer sums stay < 2e9 — no overflow at any
    corpus size (per-vector sums don't grow with the corpus).

    Scale shape: one posexplode + a (label, dim)-keyed centroid
    average (map-side partials, |labels| x 64 rows, broadcast-sized by
    construction), a per-vector integer reduce, then distributed
    top-k (TakeOrderedAndProject) — no corpus-sized sort, no
    data-scaled join.
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("i", "v"),
    ).select(
        "vec_id",
        "label",
        "i",
        F.floor(F.col("v").cast("double") * 10000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("vfp"),
    )
    # Centroid component = round-half-up(sum/n) in EXACT int64 per the
    # repo's fixed_point_avg doctrine (ADVICE r7: a float F.avg could
    # flip a component landing on a .5 quantization boundary between
    # partitionings/engines).  floor((2S+n)/(2n)) == floor(S/n + 1/2);
    # pmod makes the division floor (not truncate) for negative sums,
    # and (num - pmod) is exactly divisible so the final `/` is exact.
    c = (
        e.groupBy("label", "i")
        .agg(
            (F.lit(2) * F.sum("vfp") + F.count(F.lit(1))).alias("num"),
            (F.lit(2) * F.count(F.lit(1))).alias("den"),
        )
        .select(
            "label",
            "i",
            (
                (F.col("num") - F.pmod("num", "den")) / F.col("den")
            )
            .cast("bigint")
            .alias("cfp"),
        )
    )
    d = (
        e.join(F.broadcast(c), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("vfp") * F.col("cfp")).alias("dot"),
            F.sum(F.col("vfp") * F.col("vfp")).alias("na"),
            F.sum(F.col("cfp") * F.col("cfp")).alias("nc"),
        )
        .filter((F.col("na") > 0) & (F.col("nc") > 0))
    )
    return (
        d.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "label",
            F.floor(
                F.col("dot") / (F.sqrt("na") * F.sqrt("nc")) * 10000.0
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cosine_bp"),
        )
        .orderBy(F.asc("cosine_bp"), F.asc("vec_id"))
        .limit(_EMB_OUTLIER_K)
    )


embedding_label_outliers.__doc__ = embedding_label_outliers.__doc__.format(
    k=_EMB_OUTLIER_K
)


# --- duplication-vs-quality correlation ----------------------------------

_DUP_QUALITY_ORACLE = """
    WITH d AS (
      SELECT doc_id, substr(text, 1, 24) AS p,
             FLOOR((0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
                   + 0.3 * FLOOR((len(list_filter(string_split(text, ' '),
                                       x -> x IN ('the', 'a')))
                         * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
                   + 0.3 * FLOOR((len(list_distinct(string_split(text, ' ')))
                         * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
                   ) * 10000.0 + 0.5) AS q_fp
      FROM documents),
    g AS (SELECT p, COUNT(*) AS gs FROM d GROUP BY p)
    SELECT CAST(gs AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(q_fp AS BIGINT)) // COUNT(*) AS BIGINT)
             AS mean_quality_fp
    FROM d JOIN g USING (p)
    GROUP BY gs
"""


@query("dup_quality_correlation", oracle=_DUP_QUALITY_ORACLE, wave=8)
def dup_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does duplicated content score lower on the quality heuristic?
    Mean quality (1e-4 fixed point, floor-mean — exact integer
    arithmetic) bucketed by the document's near-dup group size (the
    same 24-char-prefix generator as the canonical-assignment ladder;
    size 1 = unique docs).  The empirical check behind the standard
    curation ordering — if mean quality falls as group size rises
    (boilerplate, mirrored pages), dedup-before-quality-filter saves
    the filter from scoring mass that dedup would drop anyway.

    Composition: quality comes from the shared ``with_quality``
    formula (one definition, three consumers), so this probe cannot
    drift from ``text_quality_score``.

    Scale shape: the group-size frame is O(distinct prefixes) and the
    membership join runs docs x sizes on the prefix key — data-scaled
    on both sides, so it carries the dedup ladder's
    ``never_broadcast`` pin; the final rollup is bounded by |distinct
    group sizes|.
    """
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast
    from awsbatch_mapreduce_spark.plans.llm_text import with_quality

    docs = load_table(spark, sf_dir, "documents")
    d = with_quality(docs).select(
        F.substring("text", 1, 24).alias("p"),
        F.floor(F.col("quality") * 10000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("q_fp"),
    )
    g = d.groupBy("p").agg(F.count(F.lit(1)).alias("gs"))
    return (
        d.join(never_broadcast(g), "p")
        .groupBy(F.col("gs").cast("bigint").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("q_fp").alias("sum_fp"),
        )
        .select(
            "group_size",
            "n_docs",
            F.expr("CAST(sum_fp div n_docs AS BIGINT)").alias(
                "mean_quality_fp"
            ),
        )
    )


# --- substring-dedup retention (the transformation, not just the metric) --

_SPAN8 = 8

_SPAN_RETENTION_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id, i, md5(array_to_string(t[i:i+{_SPAN8 - 1}], ' ')) AS sh
      FROM tok, UNNEST(range(1, len(t) - {_SPAN8 - 2})) AS u(i)
      WHERE len(t) >= {_SPAN8}),
    dup AS (
      SELECT sh FROM spans GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT DISTINCT s.doc_id, s.i + o AS pos
      FROM spans s JOIN dup USING (sh), UNNEST(range(0, {_SPAN8})) AS r(o)),
    rem AS (SELECT doc_id, COUNT(*) AS nrem FROM cov GROUP BY doc_id),
    n AS (SELECT doc_id, len(t) AS nt FROM tok)
    SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(COALESCE(rem.nrem, 0) AS BIGINT) AS n_tokens_removed,
           CAST((nt - COALESCE(rem.nrem, 0)) * 1000000 // nt AS BIGINT)
             AS kept_ppm
    FROM n LEFT JOIN rem USING (doc_id)
"""


@query("span_dedup_retention", oracle=_SPAN_RETENTION_ORACLE, wave=8)
def span_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup as a TRANSFORMATION, not just a metric:
    drop every token position covered by an 8-token span that also
    occurs in another document (cf. the suffix-array substring dedup
    of Lee et al. 2022), and report per document how many tokens
    survive.  ``duplicated_span_fraction`` measures the signal; this
    is the rewrite it prices — a doc quoting a 5% boilerplate block
    keeps 95% of its tokens, two mirrored docs keep ~0.

    Exactness notes: coverage is the UNION of overlapping dup spans
    (distinct (doc, position)), so nested/overlapping repeats are not
    double-counted; spans repeated only WITHIN one document are kept
    (cross-doc df >= 2, same rule as the metric); docs shorter than 8
    tokens have no spans and keep everything.

    Scale shape: spans hash to md5 digests before any shuffle (digest
    discipline); the df rollup and the join-back carry 16-byte keys;
    the position explode is a bounded x8 map-side expansion of only
    the DUPLICATED span positions.  Every join runs data-scaled x
    data-scaled and carries the ``never_broadcast`` pin.
    """
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    spans = (
        t.filter(F.expr(f"size(t) >= {_SPAN8}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SPAN8 - 1}),"
                    f" i -> struct(i AS i,"
                    f" md5(concat_ws(' ', slice(t, i, {_SPAN8}))) AS sh))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.i").alias("i"), F.col("s.sh").alias("sh"))
    )
    dup = (
        spans.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    cov = (
        spans.join(never_broadcast(dup), "sh")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {_SPAN8 - 1})")).alias("pos"),
        )
        .distinct()
    )
    rem = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nrem"))
    n = t.select("doc_id", F.size("t").alias("nt"))
    return (
        n.join(never_broadcast(rem), "doc_id", "left")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("nt").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("nrem"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_removed"),
            F.expr(
                "CAST((nt - COALESCE(nrem, 0)) * 1000000 div nt AS BIGINT)"
            ).alias("kept_ppm"),
        )
    )
