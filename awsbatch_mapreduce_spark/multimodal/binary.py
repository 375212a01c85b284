"""Multimodal (binary) column support for large-scale data pipelines.

Images/audio/video are opaque ``binary`` payload columns plus a typed
metadata struct; per-item decode / feature-extraction / frame-sampling
run as Arrow-batched ``mapInPandas`` so each Python worker handles one
batch of payloads without ever materializing the corpus on the driver.

The container has no image/audio codecs, so the actual decode is a
deterministic stand-in (documented below) behind the same plumbing a
real decoder would use: the Spark-side schema, partitioning, UDF
signature, and batch iteration are the production shape — swap
``_fake_decode`` for PIL/ffmpeg and nothing else changes.

Scale notes: payload bytes never shuffle — features are extracted in
the same stage as the scan and only the (tiny) feature columns flow
onward.  ``maxPartitionBytes`` bounds batch memory; Arrow transfers the
binary column zero-copy per batch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.sources.tables import load_table

FEATURE_SCHEMA = (
    "doc_id BIGINT, mime STRING, n_bytes BIGINT, sha16 STRING, "
    "fake_width INT, fake_height INT, brightness DOUBLE"
)


def synthesize_binary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct).

    Stands in for a real multimodal table (payload = UTF-8 bytes of the
    text; a real corpus would carry image/audio bytes).  The metadata
    struct mirrors what an ingest pipeline records next to the blob.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic decoder stand-in.

    A real implementation would be ``PIL.Image.open(io.BytesIO(payload))``
    etc.; codecs aren't in this container, so derive stable pseudo-
    features from the bytes themselves: dimensions from the sha256
    digest, brightness = mean byte value.  Deterministic => testable via
    a SQL oracle computing the same arithmetic.
    """
    digest = hashlib.sha256(payload).hexdigest()
    n = len(payload)
    return {
        "n_bytes": n,
        "sha16": digest[:16],
        "fake_width": 64 + n % 192,
        "fake_height": 64 + (n // 7) % 192,
        "brightness": (sum(payload) / n) if n else 0.0,
    }


def decode_image_features(binary_docs: DataFrame) -> DataFrame:
    """mapInPandas decode: (doc_id, payload, meta) -> feature rows.

    One Python worker pass per Arrow batch; the payload column is
    dropped after extraction so only narrow features leave the stage.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "mime", [m["mime"] for m in pdf["meta"]])
            yield out[
                [
                    "doc_id",
                    "mime",
                    "n_bytes",
                    "sha16",
                    "fake_width",
                    "fake_height",
                    "brightness",
                ]
            ]

    return binary_docs.mapInPandas(extract, schema=FEATURE_SCHEMA)


def frame_sample(
    binary_docs: DataFrame, n_frames: int = 4, frame_bytes: int = 16
) -> DataFrame:
    """Deterministic "video frame sampling": split each payload into
    ``n_frames`` evenly-spaced byte windows (stand-in for ffmpeg
    keyframe extraction).  Output is exploded one row per frame — the
    shape a caption/embedding stage consumes.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                if not data:
                    continue
                step = max(len(data) // n_frames, 1)
                for i in range(min(n_frames, len(data))):
                    chunk = data[i * step : i * step + frame_bytes]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame_sha16": hashlib.sha256(chunk).hexdigest()[:16],
                            "frame_len": len(chunk),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_sha16", "frame_len"]
            )

    return binary_docs.mapInPandas(
        sample,
        schema="doc_id BIGINT, frame_idx INT, frame_sha16 STRING, frame_len INT",
    )


PHASH_SCHEMA = "doc_id BIGINT, phash BIGINT, b0 INT, b1 INT, b2 INT, b3 INT"


def perceptual_hash(binary_docs: DataFrame, grid: int = 8) -> DataFrame:
    """dHash-style perceptual hash per payload: resample the bytes into
    a ``grid x grid`` cell mean "image", emit one bit per horizontally
    adjacent cell pair (left > right), packed into a signed int64.

    With a real decoder the cell means would be downsampled grayscale
    pixels (PIL ``resize((9, 8))``); the stand-in resamples raw bytes,
    which preserves the property the operator needs — near-identical
    payloads produce near-identical hashes (small hamming distance).
    Also emits 4 x 16-bit band keys for LSH-style candidate bucketing:
    two hashes within hamming distance 3 must agree on >=1 band
    (pigeonhole), so a 4-band equi-join finds every close pair without
    a quadratic comparison.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_cells = grid * grid
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                if not data:
                    rows.append({"doc_id": doc_id, "phash": 0})
                    continue
                step = len(data) / n_cells
                cells = []
                for i in range(n_cells):
                    lo, hi = int(i * step), max(int((i + 1) * step), int(i * step) + 1)
                    window = data[lo:hi] or data[-1:]
                    cells.append(sum(window) / len(window))
                bits = 0
                for r in range(grid):
                    for c in range(grid):
                        right = cells[r * grid + (c + 1) % grid]
                        bits = (bits << 1) | (1 if cells[r * grid + c] > right else 0)
                # wrap to signed int64 (Spark BIGINT)
                if bits >= 1 << 63:
                    bits -= 1 << 64
                rows.append({"doc_id": doc_id, "phash": bits})
            out = pd.DataFrame(rows, columns=["doc_id", "phash"])
            u = out["phash"].astype("int64").to_numpy().astype("uint64")
            for b in range(4):
                out[f"b{b}"] = ((u >> (16 * b)) & 0xFFFF).astype("int32")
            yield out

    return binary_docs.mapInPandas(hash_batches, schema=PHASH_SCHEMA)


def visual_near_dup_pairs(hashed: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate payload pairs from perceptual hashes: candidates
    via the 4-band equi-join (union of 4 bucket joins, never a cross
    join), verified with a JVM-side popcount of the XOR — ``bit_count``
    runs inside codegen, so verification costs one instruction per
    candidate.  Output: (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    # Both band-join sides are O(corpus) frames derived through
    # MapInPandas (perceptual_hash), whose size estimate Catalyst
    # cannot trust — the exact class that OOM'd the r5 sf1 rehearsal on
    # dedup_minhash_lsh.  Pin them off the broadcast path (VERDICT r6
    # #2); same doctrine as operators/hints.py on the text-dedup ladders.
    a = never_broadcast(
        hashed.select(
            F.col("doc_id").alias("doc_a"),
            F.col("phash").alias("ph_a"),
            "b0", "b1", "b2", "b3",
        )
    )
    b = never_broadcast(
        hashed.select(
            F.col("doc_id").alias("doc_b"),
            F.col("phash").alias("ph_b"),
            F.col("b0").alias("c0"),
            F.col("b1").alias("c1"),
            F.col("b2").alias("c2"),
            F.col("b3").alias("c3"),
        )
    )
    cands = None
    for i in range(4):
        band = a.join(b, (F.col(f"b{i}") == F.col(f"c{i}")) & (F.col("doc_a") < F.col("doc_b")))
        part = band.select("doc_a", "doc_b", "ph_a", "ph_b")
        cands = part if cands is None else cands.unionByName(part)
    hamming = F.bit_count(F.expr("ph_a ^ ph_b"))
    return (
        cands.distinct()
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def resize_payload(
    binary_docs: DataFrame, factor: int = 2, chunk: int = 1
) -> DataFrame:
    """Deterministic "resize": keep every ``factor``-th byte (stride
    sampling — the stand-in for a real image downsample, which would be
    PIL ``Image.resize`` over the decoded pixels; codecs absent here).

    Output carries the resized payload's size, digest, and the halved
    fake dimensions, mirroring what a thumbnailing stage emits.  Payload
    bytes still never shuffle: resize happens in the scan stage and only
    metadata flows on.
    """

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                small = data[::factor]
                feats = _fake_decode(data)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "orig_bytes": len(data),
                        "resized_bytes": len(small),
                        "resized_sha16": hashlib.sha256(small).hexdigest()[:16],
                        "new_width": feats["fake_width"] // factor,
                        "new_height": feats["fake_height"] // factor,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "orig_bytes",
                    "resized_bytes",
                    "resized_sha16",
                    "new_width",
                    "new_height",
                ],
            )

    return binary_docs.mapInPandas(
        shrink,
        schema=(
            "doc_id BIGINT, orig_bytes BIGINT, resized_bytes BIGINT, "
            "resized_sha16 STRING, new_width INT, new_height INT"
        ),
    )


def audio_frame_energy(binary_docs: DataFrame, frame_bytes: int = 32) -> DataFrame:
    """Deterministic "audio" energy profile: treat the payload as PCM-8
    samples, frame it into non-overlapping ``frame_bytes`` windows, and
    report per-doc frame count, total/peak energy, and the peak frame
    index (stand-in for librosa RMS-energy / silence detection).

    All-integer arithmetic (sum of squared byte values), so the SQL
    oracle reproduces it exactly; vectorized per Arrow batch with
    numpy — no per-sample Python.  Payload bytes never leave the scan
    stage; only five small integers per doc flow on.
    """
    import numpy as np

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = len(data) // frame_bytes
                if n_frames == 0:
                    rows.append((int(doc_id), 0, -1, 0, 0))
                    continue
                frames = (
                    data[: n_frames * frame_bytes]
                    .reshape(n_frames, frame_bytes)
                    .astype(np.int64)
                )
                e = (frames * frames).sum(axis=1)
                peak = int(e.argmax())  # first max -> deterministic
                rows.append(
                    (int(doc_id), n_frames, peak, int(e[peak]), int(e.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "peak_frame",
                    "peak_energy",
                    "total_energy",
                ],
            )

    return binary_docs.mapInPandas(
        energies,
        schema=(
            "doc_id BIGINT, n_frames BIGINT, peak_frame BIGINT, "
            "peak_energy BIGINT, total_energy BIGINT"
        ),
    )
