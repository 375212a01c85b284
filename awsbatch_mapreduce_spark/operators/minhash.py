"""MinHash-LSH near-duplicate format: shingle -> signature -> band key
-> candidate pair -> shared-shingle verify.

The one home of the format every near-dup consumer shares: the dedup
ladder and its QA probes (``plans/llm_text.py``, ``wave4``, ``wave7``,
``wave8``), the persisted band index (``wave9``), the sequential
admission gate (``plans/lsh_gate.py``) and its streaming twin
(``streaming/lsh.py``).  Each Spark operator here has a DuckDB SQL
fragment next to it, from which the oracles are assembled, so the two
engines cannot drift and the batch and stream writers share one band
space.

Cross-engine determinism trick: MinHash normally needs integer hash
functions, but ``md5`` hex strings compare lexicographically exactly as
their numeric value (fixed-width lowercase hex in both engines), so
``min(substr(md5(shingle || seed), 1, 16))`` is a valid minhash that
DuckDB reproduces bit-for-bit — no engine-specific ``hash()`` needed.

The operators are lazy.  Checkpoints, ``distinct`` barriers and the
columns a query keeps stay with the query; a caller that does not read
the set size ``n`` lets Catalyst prune its count from the signature
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.operators.hints import never_broadcast

_N_HASHES = 8  # minhash signature length
_N_BANDS = 4  # LSH bands (rows-per-band = 2)

# Distinct 3-token shingles per doc, CTE ``sh`` over ``documents``.
_SH_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
             THEN list_transform(generate_series(1, len(t)-2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [] END) AS shingle
      FROM toks)
"""


def shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): distinct 3-token shingles of any (doc_id,
    text) frame — ``_SH_SQL``.

    The token array is materialized in its own projection first —
    inlining ``split(text, ' ')`` into the transform lambda makes
    Catalyst re-evaluate the split per element (O(tokens^2) per doc;
    measured 4x slower at sf0.1).
    """
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    """
                    CASE WHEN size(t) >= 3
                    THEN transform(sequence(1, size(t) - 2),
                         i -> concat_ws(' ', element_at(t, i),
                                             element_at(t, i + 1),
                                             element_at(t, i + 2)))
                    ELSE array() END
                    """
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def _sig_sql(src: str = "sh") -> str:
    """CTE ``sig`` over the shingle CTE ``src`` — ``signatures``."""
    hashes = ", ".join(
        f"min(substr(md5(shingle || '#{i}'), 1, 16)) AS h{i}"
        for i in range(_N_HASHES)
    )
    return f"sig AS (SELECT doc_id, {hashes}, COUNT(*) AS n FROM {src} GROUP BY doc_id)"


def signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h7, n): the minhash signature of each doc's shingle
    set and the set's size, from one groupBy — ``_sig_sql``."""
    hashes = [
        F.min(
            F.substring(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}"))), 1, 16)
        ).alias(f"h{i}")
        for i in range(_N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*hashes, F.count(F.lit(1)).alias("n"))


# CTE ``bands`` over ``sig`` — ``band_keys``.
_BANDS_SQL = "bands AS ({})".format(
    " UNION ALL ".join(
        f"SELECT doc_id, md5(h{2 * b} || h{2 * b + 1} || '/{b}') AS bk FROM sig"
        for b in range(_N_BANDS)
    )
)


def band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, n, bk): one row per LSH band key of each signature —
    ``_BANDS_SQL``.  One pass over ``sig``: the keys are an exploded
    array column (a union of per-band selects would recompute the
    signature aggregate per band)."""
    keys = F.array(
        *[
            F.md5(
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"), F.lit(f"/{b}"))
            )
            for b in range(_N_BANDS)
        ]
    )
    return sig.select("doc_id", "n", F.explode(keys).alias("bk"))


def band_index_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, bk) band keys of any (doc_id, text) frame: the row
    format of the persisted band index, which batch and stream writers
    share."""
    return band_keys(signatures(shingles(docs))).select("doc_id", "bk")


def _cand_sql(src: str = "bands") -> str:
    """CTE ``cand`` over the band CTE ``src`` — ``candidate_pairs``."""
    return f"""cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM {src} a JOIN {src} b ON a.bk = b.bk AND a.doc_id < b.doc_id)"""


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """The band-collision self-join: row pairs of ``bands`` sharing a
    band key, ``a.doc_id < b.doc_id``, columns reached as ``a.*`` and
    ``b.*`` — ``_cand_sql``.  A pair colliding in several bands appears
    once per band; the caller projects and deduplicates.

    Both sides are O(corpus), so the join is pinned to sort-merge
    (``never_broadcast``): an AQE size misestimate must not upgrade it
    to a driver-built broadcast, the OOM the sf1 rehearsal hit
    (SCALING.md round 6)."""
    a = bands.alias("a")
    b = never_broadcast(bands.alias("b"))
    return a.join(
        b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )


# CTE ``inter`` over ``cand`` and ``sh`` — ``shared_shingles``.
_VERIFY_SQL = """inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_common
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2)"""


def shared_shingles(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """The verify join: ``cand``'s columns (which include ``id_a``,
    ``id_b``) plus ``n_common``, the number of shingles the two docs
    share — ``_VERIFY_SQL``.  Pairs sharing none drop out.  Every side
    is O(corpus) and pinned to sort-merge, like ``candidate_pairs``."""
    sha = never_broadcast(sh.alias("sa"))
    shb = never_broadcast(sh.alias("sb"))
    return (
        cand.join(sha, F.col("sa.doc_id") == F.col("id_a"))
        .join(
            shb,
            (F.col("sb.doc_id") == F.col("id_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy(*cand.columns)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
