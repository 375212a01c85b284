"""Multimodal plumbing: schema, batch shape, determinism of the stubs."""

from __future__ import annotations

import hashlib

from awsbatch_mapreduce_spark.multimodal.binary import (
    decode_image_features,
    frame_sample,
    synthesize_binary_docs,
)
from tests.conftest import SF_DIR


def test_binary_schema(spark):
    b = synthesize_binary_docs(spark, SF_DIR)
    assert dict(b.dtypes)["payload"] == "binary"
    meta_type = dict(b.dtypes)["meta"]
    assert "mime" in meta_type and "n_bytes" in meta_type


def test_decode_features_match_python(spark):
    b = synthesize_binary_docs(spark, SF_DIR).limit(5)
    feats = {r.doc_id: r for r in decode_image_features(b).collect()}
    for row in b.collect():
        payload = bytes(row.payload)
        f = feats[row.doc_id]
        assert f.n_bytes == len(payload)
        assert f.sha16 == hashlib.sha256(payload).hexdigest()[:16]
        assert f.fake_width == 64 + len(payload) % 192
        assert abs(f.brightness - sum(payload) / len(payload)) < 1e-9


def test_frame_sample_shape(spark):
    b = synthesize_binary_docs(spark, SF_DIR).limit(3)
    frames = frame_sample(b).collect()
    by_doc: dict[int, list] = {}
    for fr in frames:
        by_doc.setdefault(fr.doc_id, []).append(fr)
    for doc_id, frs in by_doc.items():
        assert len(frs) <= 4
        assert sorted(f.frame_idx for f in frs) == list(range(len(frs)))
        assert all(1 <= f.frame_len <= 16 for f in frs)


def test_perceptual_hash_near_dup_pairs(spark):
    """Identical payloads must pair at hamming 0; a lightly corrupted
    payload must still pair with its original within the threshold; an
    unrelated payload must not pair with anything."""
    from awsbatch_mapreduce_spark.multimodal.binary import (
        perceptual_hash,
        visual_near_dup_pairs,
    )

    base = ("spark engine row batch " * 40).encode()
    corrupt = bytearray(base)
    corrupt[100] ^= 0xFF  # one flipped byte
    other = bytes(range(256)) * 4
    df = spark.createDataFrame(
        [(1, base), (2, bytes(base)), (3, bytes(corrupt)), (4, other)],
        "doc_id bigint, payload binary",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in visual_near_dup_pairs(perceptual_hash(df)).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_perceptual_hash_deterministic_on_fixture(spark):
    from awsbatch_mapreduce_spark.multimodal.binary import perceptual_hash
    from awsbatch_mapreduce_spark.multimodal.binary import synthesize_binary_docs

    docs = synthesize_binary_docs(spark, SF_DIR)
    a = {r.doc_id: r.phash for r in perceptual_hash(docs).collect()}
    b = {r.doc_id: r.phash for r in perceptual_hash(docs.repartition(7)).collect()}
    assert a == b and len(a) == docs.count()
