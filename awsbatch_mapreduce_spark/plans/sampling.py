"""Deterministic sampling / dataset-split operators for training-data
pipelines.

Random sampling (``df.sample``, ``sampleBy``, ``TABLESAMPLE``) is
engine- and partitioning-dependent — useless for a reproducible corpus
build and impossible to oracle-check.  The industry-standard fix is
*hash bucketing*: bucket = ``md5(stable_id) mod N``, which is (a)
deterministic across engines, runs, and cluster sizes, (b) uniform,
(c) stable under appends — a document keeps its split forever, so
train/test contamination can't creep in when the corpus grows.  Both
queries here are single narrow projections + filters: at 100 TB they
are one scan with zero shuffles (the aggregate in the split report is
map-side partial over a 15-row key domain).

The reference has no sampling surface (SURVEY.md §2 — none); this is
part of the LLM-data-pipeline extension mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table


def md5_bucket(col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from a stable id.

    First 8 hex chars of md5 → 32-bit uint → mod.  Identical maths in
    any engine with md5 (DuckDB twin: ``('0x' || substr(md5(x),1,8))::
    UBIGINT % n``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n_buckets
    )


@query(
    "train_val_test_split",
    oracle="""
        SELECT CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                     % 100 AS b,
                     lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents)
        GROUP BY 1, 2
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by md5 bucket of doc_id, reported
    as per-(split, lang) doc and token counts.

    The split is a pure function of the document id: reproducible on
    any engine, any partitioning, any corpus size — the property that
    keeps eval sets uncontaminated across corpus versions.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", 100)
    return (
        docs.select(
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias(
                "split"
            ),
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


@query(
    "stratified_sample_by_lang",
    oracle="""
        SELECT doc_id, lang
        FROM (SELECT doc_id, lang,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                     % 100 AS b
              FROM documents)
        WHERE b < CASE WHEN lang = 'en' THEN 20 ELSE 60 END
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsample with per-language rates (en 20%, others
    60%) — the corpus-balancing move that upweights low-resource
    languages.  Same md5-bucket determinism as the splitter, so the
    exact kept-set is engine-independent (checked doc-by-doc, not just
    counts).
    """
    docs = load_table(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", 100)
    rate = F.when(F.col("lang") == "en", F.lit(20)).otherwise(F.lit(60))
    return docs.filter(b < rate).select("doc_id", "lang")


@query(
    "corpus_shard_plan",
    oracle="""
        SELECT shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM (SELECT CAST((ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                              doc_id) - 1)
                          % 8 AS BIGINT) AS shard,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents)
        GROUP BY shard
    """,
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export sharding: deterministically shuffle the corpus (order by
    md5 of the id — a reproducible random permutation) and deal docs
    round-robin into 8 shards; report per-shard doc/token totals.

    The report shows the balance an exporter gets from hash-shuffled
    round-robin — within a few percent on token totals without any
    bin-packing.  At scale the same expression feeds
    ``repartitionByRange``/``partitionBy('shard')`` for the actual
    write.

    The global rank is computed two-level so no single partition ever
    holds the whole corpus: md5 order is lexicographic, so bucket =
    first 2 hex chars partitions the permutation into 256 contiguous
    runs.  Rank within bucket is a *partitioned* window; bucket start
    offsets come from a 256-row count rollup joined triangle-style
    (broadcast, non-equi) — bounded work independent of corpus size.
    global_rank = offset[bucket] + rank_in_bucket, identical to the
    oracle's single ROW_NUMBER.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.md5(F.col("doc_id").cast("string")).alias("pkey"),
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    ).withColumn("bucket", F.substring("pkey", 1, 2))
    wb = Window.partitionBy("bucket").orderBy("pkey", "doc_id")
    ranked = keyed.withColumn("rk", F.row_number().over(wb))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    prior = counts.select(F.col("bucket").alias("pb"), F.col("n").alias("pn"))
    offsets = (
        counts.join(F.broadcast(prior), F.col("pb") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.sum("pn"), F.lit(0)).alias("off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .select(
            ((F.col("off") + F.col("rk") - 1) % 8).cast("bigint").alias("shard"),
            "n_tokens",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


@query(
    "corpus_mixture_epochs",
    oracle="""
        SELECT source,
               CAST(epochs AS BIGINT) AS epochs,
               COUNT(*) AS n_rows_mixed,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_mixed
        FROM (
          SELECT source,
                 CAST(substr(source, 4) AS INT) % 3 + 1 AS epochs,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 unnest(generate_series(1, CAST(substr(source, 4) AS INT) % 3 + 1))
                     AS epoch
          FROM documents)
        GROUP BY source, epochs
    """,
)
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted corpus mixing: each source repeats for its epoch
    weight (derived here from the source id; a mixture config in
    production), the standard up-weighting move when composing a
    training mix from sources of unequal quality.

    The explode multiplies *rows* before the shuffle-free aggregate;
    in a real export the same sequence+explode feeds the shard writer,
    so a 3-epoch source appears three times in the output corpus.  The
    blow-up factor is bounded by max(epochs) — plan row-count estimates
    stay accurate, unlike a join against a weights table with skew.
    """
    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "source",
        (F.substring("source", 4, 10).cast("int") % 3 + 1).alias("epochs"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    exploded = weighted.select(
        "source",
        "epochs",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("epoch"),
    )
    return exploded.groupBy("source", F.col("epochs").cast("bigint").alias("epochs")).agg(
        F.count(F.lit(1)).alias("n_rows_mixed"),
        F.sum("n_tokens").alias("n_tokens_mixed"),
    )


@query(
    "domain_cap_sample",
    oracle="""
        SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
        FROM (SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents)
        WHERE rk <= 10
    """,
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep at most 10 documents per source, chosen in
    deterministic md5 order — the standard defence against a handful
    of giant domains dominating a crawl-derived corpus.  Unlike a
    fraction-based downsample, a cap bounds every domain's contribution
    absolutely, and the md5 order makes the kept set a stable pseudo-
    random draw (append-stable: new docs only displace losers, never
    reshuffle winners... a doc's md5 rank among its peers is fixed).

    Scale shape: rank-within-domain plans as WindowGroupLimit — each
    task keeps <=10 candidates per domain before the shuffle, so the
    exchange carries O(domains x 10), not the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 10)
    )


@query(
    "token_budget_threshold",
    oracle="""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) * 1000000
                      // len(string_split(text, ' ')) AS BIGINT) AS score
          FROM documents),
        c AS (
          SELECT doc_id, score, n_tokens,
                 SUM(n_tokens) OVER (
                   ORDER BY score DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens,
                 SUM(n_tokens) OVER () AS total_tokens
          FROM t)
        SELECT doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE 2 * cum_tokens <= total_tokens
    """,
)
def token_budget_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold calibration: keep the best documents (by
    unique-token-ratio score, integer-scaled so ordering is exact) in
    score order until half the corpus token budget is spent — how a
    curation pipeline picks the score cut that hits a target token
    count, instead of guessing a threshold.

    Scale shape: the naive form is a global ORDER BY score cumulative
    sum — one partition holding the corpus.  Here the cumsum is
    two-level: (1) bucket docs by score band (score div 10000, <=101
    bands), (2) per-band token totals (tiny) meet in a broadcast
    triangle join that yields each band's prefix offset, (3) the
    within-band cumsum windows partition on the band key.  Identical
    result to the global window — score bands are contiguous ranges of
    the global order — but every exchange is either hash-on-band or a
    broadcast of <=101 rows.  All-integer maths, so the ``2*cum <=
    total`` cut is engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) * 1000000L"
            " div size(split(text, ' ')) AS BIGINT)"
        ).alias("score"),
    ).withColumn("band", F.expr("score div 10000"))

    per_band = t.groupBy("band").agg(F.sum("n_tokens").alias("band_tokens"))
    # prefix offset per band = total tokens of strictly better bands
    hi = per_band.select(
        F.col("band").alias("hi_band"), F.col("band_tokens").alias("hi_tokens")
    )
    offsets = (
        per_band.join(
            F.broadcast(hi), F.col("hi_band") > F.col("band"), "left"
        )
        .groupBy("band")
        .agg(F.coalesce(F.sum("hi_tokens"), F.lit(0)).alias("band_offset"))
    )
    total = t.agg(F.sum("n_tokens").alias("total_tokens"))

    w = (
        Window.partitionBy("band")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.join(F.broadcast(offsets), "band")
        .withColumn(
            "cum_tokens",
            (F.sum("n_tokens").over(w) + F.col("band_offset")).cast("bigint"),
        )
        .crossJoin(F.broadcast(total))
        .filter(2 * F.col("cum_tokens") <= F.col("total_tokens"))
        .select("doc_id", "score", "n_tokens", "cum_tokens")
    )


_BOOT_REPS = 32


_BOOT_ORACLE = f"""
    WITH reps AS (SELECT unnest(range(0, {_BOOT_REPS})) AS rep),
    w AS (
      SELECT o_orderpriority AS prio, rep,
             CASE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                    || '#' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT % 4)
               WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders CROSS JOIN reps),
    rm AS (
      SELECT prio, rep,
             FLOOR((SUM(w * cents) * 1.0 / (100.0 * SUM(w)))
                   * 10000.0 + 0.5) / 10000.0 AS m
      FROM w GROUP BY 1, 2),
    ci AS (SELECT prio, list_sort(list(m)) AS ms FROM rm GROUP BY 1),
    mean AS (
      SELECT o_orderpriority AS prio,
             FLOOR((SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    * 1.0 / (100.0 * COUNT(*))) * 10000.0 + 0.5)
               / 10000.0 AS mean_rev,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT mean.prio AS o_orderpriority,
           CAST(mean.n_orders AS BIGINT) AS n_orders,
           mean.mean_rev,
           ci.ms[2] AS ci_lo,
           ci.ms[{_BOOT_REPS - 1}] AS ci_hi
    FROM mean JOIN ci ON ci.prio = mean.prio
"""


@query("bootstrap_ci_order_value", oracle=_BOOT_ORACLE)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~90% bootstrap confidence interval for mean order value per
    priority, via the deterministic multiplier bootstrap: each of 32
    replicates reweights every order by hash(orderkey, rep) -> weight
    in {0, 1, 1, 2} (mean 1), and the CI is the 2nd/31st of the 32
    sorted replicate means.  This is THE scalable bootstrap — no
    resampled copies of the data, just 32 weighted aggregates in one
    shuffle — and the hash-derived weights make it reproducible and
    oracle-checkable, where rng-based resampling would not be.

    Scale shape: the replicate cross join is rows x 32 in the map
    stage feeding ONE shuffle bounded by (priority x rep) = 160 keys;
    replicate means use exact integer-cent sums with a single rounded
    division, and the quantile picks elements of a 32-value sorted
    array per group (bounded, engine-independent).
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround

    orders = load_table(spark, sf_dir, "orders")
    reps = spark.range(_BOOT_REPS).select(F.col("id").cast("int").alias("rep"))
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    wcol = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("#"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 4
    )
    w = (
        orders.select(
            F.col("o_orderpriority").alias("prio"), F.col("o_orderkey"),
            cents.alias("cents"),
        )
        .crossJoin(F.broadcast(reps))
        .select(
            "prio",
            "rep",
            "cents",
            F.when(wcol == 0, 0).when(wcol == 3, 2).otherwise(1).alias("w"),
        )
    )
    rm = w.groupBy("prio", "rep").agg(
        dround(
            F.sum(F.col("w") * F.col("cents"))
            * 1.0
            / (100.0 * F.sum("w")),
            4,
        ).alias("m")
    )
    ci = rm.groupBy("prio").agg(
        F.array_sort(F.collect_list("m")).alias("ms")
    )
    mean = orders.groupBy(
        F.col("o_orderpriority").alias("prio")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dround(
            F.sum(cents) * 1.0 / (100.0 * F.count(F.lit(1))), 4
        ).alias("mean_rev"),
    )
    return mean.join(ci, "prio").select(
        F.col("prio").alias("o_orderpriority"),
        "n_orders",
        "mean_rev",
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", _BOOT_REPS - 1).alias("ci_hi"),
    )


_WSAMPLE_ORACLE = """
    WITH p AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  ::UBIGINT // greatest(n_chars, 1) AS BIGINT) AS priority
      FROM documents WHERE n_chars IS NOT NULL),
    top AS (SELECT * FROM p ORDER BY priority, doc_id LIMIT 50)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, priority,
           CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT)
             AS rk
    FROM top
"""


@query("weighted_doc_sample", oracle=_WSAMPLE_ORACLE)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample: 50 documents drawn with
    probability increasing in document length, via integer priority
    sampling — priority = hash(doc_id) / weight, keep the bottom-k.
    The reproducible replacement for rand()-weighted sampling when a
    curation run must be re-derivable (same corpus in, same sample
    out), e.g. for human-eval slices weighted toward long documents.

    Scale shape: priorities are computed in the map stage from the
    stable id (no rng state, no seed coordination across executors);
    the bottom-k plans as distributed TakeOrderedAndProject with the
    rank window over the 50 survivors.  Integer division keeps the
    priority exact in both engines.
    """
    # greatest(n_chars, 1) + non-NULL filter in BOTH engines: a zero or
    # NULL weight would otherwise make a NULL priority, and NULLs sort
    # first in Spark ASC but last in DuckDB — divergent top-50 sets.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    prio = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) div greatest(n_chars, 1)"
    )
    p = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        prio.alias("priority"),
    )
    top = p.orderBy(F.asc("priority"), F.asc("doc_id")).limit(50)
    wr = Window.partitionBy(F.lit(0)).orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    return top.withColumn("rk", F.row_number().over(wr).cast("bigint"))


_TEMP_MIX_ORACLE = """
    WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    s AS (SELECT lang, n_docs,
                 CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 10000.0 + 0.5)
                      AS BIGINT) AS r_fp
          FROM n),
    t AS (SELECT SUM(r_fp) AS tot FROM s)
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(r_fp AS BIGINT) AS root_fp,
           CAST(r_fp * 1000000 // tot AS BIGINT) AS weight_ppm,
           CAST(r_fp * 10000 // tot AS BIGINT) AS docs_per_10k
    FROM s, t
"""


@query("mixture_temperature_weights", oracle=_TEMP_MIX_ORACLE)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (mT5-style, alpha = 0.5):
    per-language sampling weight proportional to sqrt(n_docs),
    up-weighting low-resource languages relative to proportional
    sampling — the table a mixture-aware dataloader consumes
    (``corpus_mixture_epochs`` handles the epoch side).

    Scale shape: one bounded-key count per language, a broadcast
    scalar total, integer ppm shares.  sqrt is the single IEEE op on
    an exact integer, quantized before the share division, so the
    cross-engine hash is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 10000.0 + 0.5)
        .cast("bigint")
        .alias("r_fp"),
    )
    t = s.agg(F.sum("r_fp").alias("tot"))
    return s.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("r_fp").alias("root_fp"),
        F.expr("CAST(r_fp * 1000000 div tot AS BIGINT)").alias("weight_ppm"),
        F.expr("CAST(r_fp * 10000 div tot AS BIGINT)").alias("docs_per_10k"),
    )
