"""Multimodal operator tests: binary plumbing, frame math, fake codec."""

from __future__ import annotations

import pytest

from synth_transform_spark.operators import multimodal
from synth_transform_spark.sources.readers import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def media(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return multimodal.attach_media(docs).cache()


def test_media_schema_and_determinism(media):
    assert media.schema == multimodal.MEDIA_SCHEMA
    rows = {r.doc_id: r for r in media.collect()}
    again = {r.doc_id: r for r in media.collect()}
    assert rows == again
    for doc_id, r in rows.items():
        assert r.metadata.media_type == multimodal.MEDIA_TYPES[doc_id % 3]
        if r.metadata.media_type == "audio":
            assert r.metadata.width is None and r.metadata.sample_rate == 16000
        else:
            assert r.metadata.width == doc_id % 7 * 64 + 64


def test_manifest_matches_payload(media):
    import hashlib

    manifest = {r.doc_id: r for r in multimodal.media_manifest(media).collect()}
    payloads = {r.doc_id: bytes(r.payload) for r in media.collect()}
    for doc_id, payload in payloads.items():
        m = manifest[doc_id]
        assert m.n_bytes == len(payload)
        assert m.content_sha256 == hashlib.sha256(payload).hexdigest()


def test_frame_sample_reassembles_payload(media):
    """Sampled frames are true payload slices at the right offsets."""
    frames = multimodal.sample_frames(media, frame_size=64, stride=4).collect()
    payloads = {r.doc_id: bytes(r.payload) for r in media.collect()}
    seen = set()
    for f in frames:
        p = payloads[f.doc_id]
        assert f.frame_idx % 4 == 0
        assert bytes(f.frame) == p[f.frame_idx * 64 : (f.frame_idx + 1) * 64]
        assert f.frame_bytes == len(bytes(f.frame)) > 0
        seen.add(f.doc_id)
    assert seen == set(payloads)  # every doc contributed ≥ 1 frame


def test_byte_histogram_counts(media):
    import numpy as np

    hist = multimodal.byte_histogram(media, n_bins=16)
    total = hist.groupBy().sum("n").first()[0]
    payloads = [bytes(r.payload) for r in media.collect()]
    assert total == sum(len(p) for p in payloads)
    got = {(r.doc_id, r.bucket): r.n for r in hist.collect()}
    p0 = {r.doc_id: bytes(r.payload) for r in media.collect()}
    some_id = next(iter(p0))
    expect = np.bincount(np.frombuffer(p0[some_id], np.uint8) % 16, minlength=16)
    for b in range(16):
        assert got.get((some_id, b), 0) == expect[b]


def test_decode_fake_is_deterministic(media):
    a = {r.doc_id: r for r in multimodal.decode_media(media).collect()}
    b = {r.doc_id: r for r in multimodal.decode_media(media).collect()}
    assert a == b
    for r in a.values():
        assert r.decoder == "fake-deterministic"
        assert r.mean_intensity is not None and 0 < r.mean_intensity < 256
        n_dims = {"image": 3, "audio": 2, "video": 4}[r.media_type]
        assert len(r.shape) == n_dims


def test_resize_rewrites_dims_for_all_sized_media(media):
    """resize_images (no longer a stub as of round 4) handles every row
    carrying width/height metadata (image + video) and rewrites the dims."""
    sized = media.filter("metadata.width IS NOT NULL")
    out = multimodal.resize_images(sized, 16, 16)
    n_in = sized.count()
    assert out.count() == n_in
    dims = out.select("width", "height").distinct().collect()
    assert [(r.width, r.height) for r in dims] == [(16, 16)]


def test_resize_images_fallback_kernel(spark):
    """The fake-codec resize must apply the REAL nearest-neighbour
    index math over the byte grid: verify one payload against a numpy
    reference, and the contract columns (rewritten dims, binary out)."""
    import numpy as np

    from synth_transform_spark.operators import multimodal
    from synth_transform_spark.sources.readers import load_table

    from conftest import SF_DIR

    media = multimodal.attach_media(load_table(spark, SF_DIR, "documents")).filter(
        "metadata.media_type = 'image'"
    )
    row = media.orderBy("doc_id").limit(1).collect()[0]
    out = (
        multimodal.resize_images(media.limit(1), width=8, height=8)
        .collect()[0]
    )
    assert out.width == 8 and out.height == 8
    assert out.resizer == "fake-nearest"
    assert len(out.payload) == 64
    buf = np.frombuffer(bytes(row.payload), dtype=np.uint8)
    h_in, w_in = row.metadata.height, row.metadata.width
    grid = buf[np.arange(h_in * w_in) % len(buf)].reshape(h_in, w_in)
    rs = (np.arange(8) * h_in) // 8
    cs = (np.arange(8) * w_in) // 8
    assert bytes(out.payload) == grid[np.ix_(rs, cs)].tobytes()
