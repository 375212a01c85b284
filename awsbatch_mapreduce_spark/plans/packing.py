"""Training-sequence packing and compression-based quality signals —
the last-mile operators of an LLM data pipeline (BASELINE.json north
star), downstream of chunking/dedup/curation.

Sequence packing: GPT-style pipelines concatenate the token stream of
a shard and cut it every ``seq_len`` tokens.  The *plan* for that —
each document's byte offset and target sequence id — is pure window
algebra: a running token total per shard, ordered by a stable key.
Sharding first (md5 buckets) makes the cumsum partition-parallel: each
shard's window is independent, so 100 TB packs as N independent
cumsums instead of one global single-reducer sort.

Compression ratio: zlib-compressed size over raw size is a classic
cheap quality/repetition proxy (boilerplate and degenerate repetition
compress far better than natural prose).  It needs real byte-level
compression, so it runs as an Arrow-batched ``mapInPandas`` stage —
the documented slow path, kept off the hot path and fed only the
(doc_id, text) projection.  No SQL oracle exists for zlib itself, so
the registry entry checks the exact byte length plus sanity flags;
``tests/test_packing.py`` pins exact zlib values directly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.sampling import md5_bucket
from awsbatch_mapreduce_spark.sources.tables import load_table

SEQ_LEN = 512
N_SHARDS = 8


@query(
    "corpus_pack_sequences",
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   % {N_SHARDS} AS shard,
                 len(string_split(text, ' ')) AS n_tokens
          FROM documents),
        offs AS (
          SELECT doc_id, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_offset
          FROM t)
        SELECT doc_id,
               CAST(shard AS BIGINT) AS shard,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(start_offset AS BIGINT) AS start_offset,
               CAST(FLOOR(start_offset / {SEQ_LEN}.0) AS BIGINT) AS seq_id
        FROM offs
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: each document's start offset in its
    shard's concatenated token stream and the ``SEQ_LEN``-token training
    sequence it starts in.

    The window is partitioned by shard, so the cumulative sum runs in
    parallel across shards — the scalable form of "concatenate and cut
    every N tokens".  Token counts are whitespace tokens here; swapping
    in the BPE-ish counter (``functions/text.py``) changes only the
    ``n_tokens`` expression.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        md5_bucket("doc_id", N_SHARDS).cast("bigint").alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("bigint")
        .alias("start_offset"),
    ).withColumn(
        "seq_id",
        F.floor(F.col("start_offset") / float(SEQ_LEN)).cast("bigint"),
    )


def compression_ratios(docs: DataFrame) -> DataFrame:
    """zlib compression ratio per document via Arrow-batched
    ``mapInPandas`` (byte-level work no SQL engine expresses)."""
    schema = "doc_id bigint, n_bytes bigint, n_compressed bigint, ratio double"

    def compress(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            n_bytes = raw.str.len().astype("int64")
            n_comp = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            # empty documents: zlib still emits a header (~8 bytes), so a
            # raw n_comp / n_bytes would be inf — clamp the denominator.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": (n_comp / n_bytes.clip(lower=1)).astype(
                        "float64"
                    ),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(compress, schema)


_COMPRESSION_ORACLE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(1 AS BIGINT) AS comp_ok,
           CAST(1 AS BIGINT) AS ratio_ok
    FROM documents
"""


@query("text_compression_ratio", oracle=_COMPRESSION_ORACLE)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality proxy per document.  zlib itself is
    not SQL-expressible, so the oracle contract covers what IS exact in
    both engines — the utf-8 byte length (``octet_length(encode())``,
    since DuckDB's octet_length takes BLOB) — plus
    sanity flags the Spark side computes from its own zlib output
    (``1 <= n_compressed <= n_bytes + 64``; ``0 < ratio < 2`` except
    for empty documents, where the zlib header makes any ratio bound
    meaningless and the flag passes unconditionally) and the oracle
    emits as literal 1.  The exact per-document zlib values stay
    pinned in ``tests/test_packing.py`` against direct zlib calls.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = compression_ratios(docs)
    return out.select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.expr(
            "CAST(n_compressed >= 1 AND n_compressed <= n_bytes + 64"
            " AS BIGINT)"
        ).alias("comp_ok"),
        F.expr(
            "CAST(n_bytes = 0 OR (ratio > 0.0 AND ratio < 2.0) AS BIGINT)"
        ).alias("ratio_ok"),
    )
