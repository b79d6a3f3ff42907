"""Multimodal plumbing: schema, Arrow batch shape, mapInPandas
signatures, determinism of the stubbed decoders."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from llogtail_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    sample_frames,
    synth_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, n=30, seed=42).cache()


def test_synth_media_schema_and_determinism(spark, media):
    assert media.schema == MEDIA_SCHEMA
    a = sorted(r["media_id"] for r in media.collect())
    again = synth_media(spark, n=30, seed=42)
    assert sorted(r["media_id"] for r in again.collect()) == a
    # payloads deterministic too
    p1 = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    p2 = {r["media_id"]: bytes(r["payload"]) for r in again.collect()}
    assert p1 == p2


def test_sample_frames(media):
    out = sample_frames(media, every=8).collect()
    vids = {r["media_id"]: r["n_frames"]
            for r in media.filter(F.col("kind") == "video").collect()}
    expect = sum(len(range(0, n, 8)) for n in vids.values())
    assert len(out) == expect
    for r in out:
        assert r["frame_idx"] % 8 == 0
        assert len(bytes(r["frame_payload"])) == 32


def test_frame_digest_matches_hashlib(spark):
    """The ASCII frame-suffix stub digest must equal a direct
    hashlib recompute — the property that makes the frame path
    oracle-verifiable in SQL."""
    import hashlib

    from llogtail_spark.operators.multimodal import sample_frames

    payload = "some video bytes".encode()
    media = spark.createDataFrame(
        [("m1", "video", payload, None, None, 20, None, "s")],
        MEDIA_SCHEMA)
    out = {r["frame_idx"]: bytes(r["frame_payload"])
           for r in sample_frames(media, every=8).collect()}
    assert sorted(out) == [0, 8, 16]
    for fi, digest in out.items():
        want = hashlib.sha256(payload + b"#" + str(fi).encode()).digest()
        assert digest == want
