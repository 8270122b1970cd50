"""Multimodal plumbing tests: binary schema, Arrow-batched feature
extraction, frame sampling. Decode itself is stubbed (no media libs in the
container) — these verify the Spark-side shapes are real."""

from __future__ import annotations

import pytest

from zg_etl_spark.operators import multimodal as MM
from zg_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return MM.documents_as_media(load_table(spark, SF, "documents"))


def test_media_schema(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    row = media.limit(1).collect()[0]
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.n_bytes == len(row.payload)


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x00")


def test_extract_features(media):
    feats = MM.extract_features(media).collect()
    assert len(feats) == media.count()
    f0 = {r.media_id: r for r in feats}[0]
    assert f0.n_bytes > 0
    assert sum(f0.byte_histogram) == f0.n_bytes
    assert 0 < f0.byte_mean < 255
    assert f0.n_frames == (f0.n_bytes + 255) // 256


@pytest.mark.parametrize("n_bins", [0, 257, 300])
def test_extract_features_rejects_out_of_range_bins(n_bins):
    """The histogram's bucket math is uint16: n_bins above 256 used to
    wrap silently into wrong buckets, and 0 has no bucket at all. The
    check runs before the DataFrame is touched, so none is needed."""
    with pytest.raises(ValueError, match="n_bins"):
        MM.extract_features(None, n_bins=n_bins)


def test_extract_features_full_byte_range_bins(media):
    """n_bins = 256 is the top of the valid range: one bucket per byte."""
    f0 = MM.extract_features(media, n_bins=256).filter("media_id = 0").first()
    assert len(f0.byte_histogram) == 256
    assert sum(f0.byte_histogram) == f0.n_bytes


def test_resize_media(media):
    resized = MM.resize_media(media, width=16, height=8)
    # stage is schema-preserving (modulo nullability flags)
    assert resized.schema.simpleString() == media.schema.simpleString()
    rows = {r.media_id: r for r in resized.limit(50).collect()}
    for r in rows.values():
        assert len(r.payload) == 16 * 8
        assert r.meta.width == 16 and r.meta.height == 8
        assert r.meta.n_bytes == 16 * 8


def test_frame_sampling(media, spark):
    frames = MM.sample_frames(media, every_n=2)
    rows = frames.filter("media_id = 0").collect()
    assert all(r.frame_idx % 2 == 0 for r in rows)
    n_bytes = media.filter("media_id = 0").collect()[0].meta.n_bytes
    n_chunks = (n_bytes + 255) // 256
    assert len(rows) == (n_chunks + 1) // 2


def test_extract_features_matches_per_row_reference(spark):
    """The batch-vectorized uint8 path must be byte-identical to the naive
    per-row definition, including None / empty / all-0xff payloads and
    every bucket boundary (the uint16 bucket math is exact only while
    byte * n_bins fits 16 bits — pinned here with the default n_bins)."""
    payloads = [
        None,
        b"",
        bytes(range(256)) * 7,          # every byte value, multi-frame
        b"\xff" * 1000,                 # top bucket only
        b"\x00" * 3,                    # bottom bucket only
        bytes([15, 16, 31, 32, 239, 240, 255]),  # bucket edges at /16
    ]
    df = spark.createDataFrame(
        [(i, p, None) for i, p in enumerate(payloads)], MM.MEDIA_SCHEMA
    )
    got = {r.media_id: r for r in MM.extract_features(df).collect()}
    for i, p in enumerate(payloads):
        b = p or b""
        n = len(b)
        hist = [0] * 16
        for x in b:
            hist[x * 16 // 256] += 1
        r = got[i]
        assert r.n_bytes == n
        assert r.byte_histogram == hist
        assert r.byte_mean == (sum(b) / n if n else 0.0)
        assert r.n_frames == (n + 255) // 256
