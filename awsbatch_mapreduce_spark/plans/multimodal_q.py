"""Registry entries for the multimodal (binary-column) operators.

The decode stand-in is deterministic (``multimodal.binary._fake_decode``:
features derived from the payload bytes), so every mapInPandas path —
including ``frame_sample``'s byte-window slicing — gets a full SQL
oracle: DuckDB recomputes the same arithmetic from the text the payload
was synthesized from (ASCII text => codepoint == byte, substr == byte
slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.multimodal.binary import (
    audio_frame_energy,
    decode_image_features,
    frame_sample,
    synthesize_binary_docs,
)
from awsbatch_mapreduce_spark.plans.registry import query


@query(
    "multimodal_binary_stats",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS payload_sha,
               'application/octet-stream' AS mime,
               source AS origin
        FROM documents
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + typed metadata, JVM-side digests.

    Exercises the binary column path without Python: octet_length and
    sha2 run in codegen directly over the payload bytes.
    """
    b = synthesize_binary_docs(spark, sf_dir)
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.lower(F.sha2("payload", 256)).alias("payload_sha"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.origin").alias("origin"),
    )


@query(
    "multimodal_decode_features",
    oracle="""
        WITH idx AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents
        ), bytes AS (
            SELECT doc_id, ord(substr(text, i, 1)) AS b FROM idx
        ), sums AS (
            SELECT doc_id, SUM(b) AS byte_sum, COUNT(*) AS n
            FROM bytes GROUP BY doc_id
        )
        SELECT d.doc_id,
               'application/octet-stream' AS mime,
               CAST(s.n AS BIGINT) AS n_bytes,
               substr(sha256(d.text), 1, 16) AS sha16,
               CAST(64 + s.n % 192 AS INT) AS fake_width,
               CAST(64 + (s.n // 7) % 192 AS INT) AS fake_height,
               s.byte_sum * 1.0 / s.n AS brightness
        FROM documents d JOIN sums s ON d.doc_id = s.doc_id
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode -> per-item features.

    The production shape for image/audio feature extraction: payload
    bytes stay in the scan stage, only narrow features flow on.  The
    oracle reproduces the deterministic fake decoder's arithmetic.
    """
    return decode_image_features(synthesize_binary_docs(spark, sf_dir))


@query(
    "multimodal_frame_sample",
    # byte windows over ASCII payloads are char windows: substr + sha256
    # express the sampler exactly (every fixture doc has >= 48 bytes, so
    # min(n_frames, len) = 4 and step = len // 4 >= 1)
    oracle="""
        WITH f AS (
          SELECT doc_id, text,
                 GREATEST(length(text) // 4, 1) AS step,
                 unnest(generate_series(0, 3)) AS frame_idx
          FROM documents
          WHERE length(text) > 0)
        SELECT doc_id,
               CAST(frame_idx AS INT) AS frame_idx,
               substr(sha256(substr(text, frame_idx * step + 1, 16)), 1, 16)
                 AS frame_sha16,
               CAST(length(substr(text, frame_idx * step + 1, 16)) AS INT)
                 AS frame_len
        FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: byte-window extraction +
    per-frame digests via mapInPandas — the video keyframe pipeline
    shape.  The oracle slices the same windows with substr/sha256
    (payloads are synthesized from ASCII text, so byte == char).
    """
    return frame_sample(synthesize_binary_docs(spark, sf_dir))


@query(
    "multimodal_resize",
    # stride-2 byte sampling over ASCII == every-odd-position chars:
    # rebuild the same string in SQL and hash it
    oracle="""
        WITH s AS (
          SELECT doc_id, text, length(text) AS n,
                 string_agg(substr(text, i, 1), '' ORDER BY i) AS small
          FROM (SELECT doc_id, text, length(text) AS n,
                       unnest(generate_series(1, length(text), 2)) AS i
                FROM documents) t
          GROUP BY doc_id, text, n)
        SELECT doc_id,
               CAST(n AS BIGINT) AS orig_bytes,
               CAST(length(small) AS BIGINT) AS resized_bytes,
               substr(sha256(small), 1, 16) AS resized_sha16,
               CAST((64 + n % 192) // 2 AS INT) AS new_width,
               CAST((64 + (n // 7) % 192) // 2 AS INT) AS new_height
        FROM s
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail/resize stage: stride-sampled payload + halved fake
    dimensions via mapInPandas (PIL-shaped plumbing, codec stubbed
    deterministically).  Oracle rebuilds the strided string in SQL and
    verifies size, digest, and dimensions.
    """
    from awsbatch_mapreduce_spark.multimodal.binary import resize_payload

    return resize_payload(synthesize_binary_docs(spark, sf_dir))


_VISUAL_NEAR_DUP_ORACLE = """
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'X' || substr(text, 2) AS text
      FROM documents WHERE doc_id % 25 = 0
    ),
    cells AS (
      -- replicate _fake phash cell windows EXACTLY: step = n/64.0 is
      -- rounded once, then i*step truncates (floor == trunc, nonneg)
      SELECT doc_id, n, c,
             CAST(floor(c * (n / 64.0)) AS INT) AS lo,
             LEAST(GREATEST(CAST(floor((c + 1) * (n / 64.0)) AS INT),
                            CAST(floor(c * (n / 64.0)) AS INT) + 1), n) AS hi
      FROM (SELECT doc_id, length(text) AS n,
                   unnest(generate_series(0, 63)) AS c
            FROM base)
    ),
    cell_means AS (
      -- ASCII payloads: ord(char) == byte; int-sum/int-len division is
      -- one IEEE op, identical in both engines
      SELECT cl.doc_id, cl.c,
             CAST(SUM(ord(substr(b.text, j.j + 1, 1))) AS DOUBLE)
                 / (cl.hi - cl.lo) AS m
      FROM cells cl
      JOIN base b ON b.doc_id = cl.doc_id,
      LATERAL unnest(generate_series(cl.lo, cl.hi - 1)) AS j(j)
      GROUP BY cl.doc_id, cl.c, cl.hi, cl.lo
    ),
    bits AS (
      -- bit k (row-major cell index) has signed weight 2^(63-k); k=0 is
      -- the sign bit, matching the Python int64 wrap
      SELECT p.doc_id,
             CAST(SUM(CASE WHEN p.m > r.m THEN
                  CASE WHEN p.c = 0 THEN -9223372036854775808
                       ELSE (CAST(1 AS BIGINT) << (63 - p.c)) END
                  ELSE 0 END) AS BIGINT) AS phash
      FROM (SELECT doc_id, c, m,
                   (c // 8) * 8 + ((c % 8) + 1) % 8 AS rc
            FROM cell_means) p
      JOIN cell_means r ON r.doc_id = p.doc_id AND r.c = p.rc
      GROUP BY p.doc_id
    )
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
    FROM bits x JOIN bits y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.phash, y.phash)) <= 3
"""


@query("multimodal_visual_near_dup", oracle=_VISUAL_NEAR_DUP_ORACLE)
def multimodal_visual_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-duplicate pairs via perceptual (dHash-style) hashing:
    band-bucketed candidate join + JVM-side popcount verify
    (``multimodal/binary.py:perceptual_hash`` / ``visual_near_dup_pairs``).

    The synthetic corpus has no natural byte-level near-dups, so the
    query plants them the way detector evaluations do: every 25th
    document gets a re-encoded twin (one corrupted leading byte,
    doc_id + 1_000_000).  The detector must recover exactly those
    planted pairs.

    The oracle is the brute-force all-pairs hamming filter over the
    same phash arithmetic (feasible in DuckDB at oracle scale; the
    Spark path stays banded LSH).  Because hamming <= 3 over 4 x 16-bit
    bands pigeonholes into >= 1 exact band match, the banded candidate
    set provably contains every qualifying pair — so LSH output ==
    brute force output, exactly.
    """
    from awsbatch_mapreduce_spark.multimodal.binary import (
        perceptual_hash,
        visual_near_dup_pairs,
    )
    from awsbatch_mapreduce_spark.sources.tables import load_table

    base = synthesize_binary_docs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.encode(
            F.concat(F.lit("X"), F.expr("substr(text, 2)")), "UTF-8"
        ).alias("payload"),
    )
    everything = base.select("doc_id", "payload").unionByName(planted)
    # empty payloads have no cells, so the oracle's cell_means CTE drops
    # them implicitly; perceptual_hash would emit phash=0 and pair every
    # empty doc at hamming 0 — exclude them symmetrically (ADVICE r2)
    everything = everything.filter(F.length("payload") > 0)
    hashed = perceptual_hash(everything)
    return visual_near_dup_pairs(hashed)


_AUDIO_ORACLE = """
    WITH frames AS (
      SELECT doc_id,
             unnest(generate_series(0, length(text) // 32 - 1)) AS f
      FROM documents WHERE length(text) >= 32),
    fe AS (
      SELECT fr.doc_id, fr.f,
             SUM(ord(substr(d.text, fr.f * 32 + i, 1))
                 * ord(substr(d.text, fr.f * 32 + i, 1))) AS energy
      FROM frames fr
      JOIN documents d ON d.doc_id = fr.doc_id
      CROSS JOIN UNNEST(generate_series(1, 32)) AS u(i)
      GROUP BY fr.doc_id, fr.f),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(first(f ORDER BY energy DESC, f) AS BIGINT) AS peak_frame,
             CAST(MAX(energy) AS BIGINT) AS peak_energy,
             CAST(SUM(energy) AS BIGINT) AS total_energy
      FROM fe GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(a.n_frames, 0) AS n_frames,
           COALESCE(a.peak_frame, -1) AS peak_frame,
           COALESCE(a.peak_energy, 0) AS peak_energy,
           COALESCE(a.total_energy, 0) AS total_energy
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


@query("multimodal_audio_energy", oracle=_AUDIO_ORACLE)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality stand-in: PCM-8 frame energies via Arrow-batched
    ``mapInPandas`` (``multimodal/binary.py:audio_frame_energy``) —
    per-doc frame count, total/peak energy, peak-frame index (the
    silence-detection / loudness-normalization primitive).

    All-integer arithmetic keeps the oracle exact; the Python stage is
    numpy-vectorized per batch and emits five integers per doc, so
    payload bytes never shuffle.  Swap the fake PCM interpretation for
    a real decoder (soundfile/ffmpeg) and the plumbing is unchanged —
    same environment-gate stance as S9 (reference ``Reduce.ps1:8``).
    """
    b = synthesize_binary_docs(spark, sf_dir)
    return audio_frame_energy(b)
