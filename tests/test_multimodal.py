"""Multimodal tests: the feature and frame-sampling kernels are
deterministic fakes whose Spark mechanics — schema, Arrow batching,
row explosion, binary columns — are real; resize, decode stats, frame
stats and the perceptual hashes decode the payloads with the stdlib
PNG, WAV and y4m codecs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raft_c_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synthetic_media(spark, n=30).cache()


def test_media_schema(media):
    # names+types only: the corpus is a parquet scan now, and parquet
    # columns surface as nullable regardless of the declared schema
    assert [(f.name, f.dataType) for f in media.schema.fields] == [
        (f.name, f.dataType) for f in mm.MEDIA_SCHEMA.fields
    ]
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_extract_features_shape_and_determinism(media):
    out = mm.extract_features(media)
    rows = out.collect()
    assert len(rows) == 30
    assert all(len(r["features"]) == mm.FEATURE_DIM for r in rows)
    assert "payload" not in out.columns  # bytes dropped after extraction
    again = {r["media_id"]: r["features"] for r in mm.extract_features(media).collect()}
    first = {r["media_id"]: r["features"] for r in rows}
    assert again == first


def test_resize_updates_metadata_images_only(media):
    out = mm.resize_images(media, 224, 224)
    rows = out.collect()
    assert rows and all(r["kind"] == "image" for r in rows)
    assert all(r["width"] == 224 and r["height"] == 224 for r in rows)


def test_frame_sampling_explodes_rows(media):
    frames = mm.sample_frames(media, every_ms=500)
    rows = frames.collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter(F.col("kind") == "video").collect()
    }
    for mid, frs in by_media.items():
        expect = max(durations[mid], 1) // 500 + (1 if durations[mid] % 500 else 0)
        assert len(frs) == expect
        idxs = sorted(f["frame_idx"] for f in frs)
        assert idxs == list(range(len(frs)))


def test_decode_stats_matches_preencode_ground_truth(media):
    """decode_stats (encode→PNG/WAV→decode→integer stats) must equal
    expected_decode_stats (stats straight off the pre-encode arrays):
    a lossless-roundtrip proof with no float tolerance anywhere."""
    ia = media.filter(F.col("kind").isin("image", "audio"))
    got = {
        r["media_id"]: r.asDict() for r in mm.decode_stats(ia).collect()
    }
    want = {d["media_id"]: d for d in mm.expected_decode_stats(n=30)}
    assert got.keys() == want.keys()
    for mid, w in want.items():
        assert got[mid] == w, (mid, got[mid], w)


def test_compressed_video_raises_value_error(spark):
    """A non-y4m payload (e.g. real mp4 bytes) fails loudly at
    ``frame_stats``' codec seam, naming the unsupported format."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(0, "video", bytearray(b"\x00\x00\x00 ftypmp42----"), "video/mp4",
          None, None, 1000)],
        columns=[f.name for f in mm.MEDIA_SCHEMA.fields],
    ).astype(object)
    df = spark.createDataFrame(pdf, mm.MEDIA_SCHEMA)
    with pytest.raises(Exception) as ei:
        mm.frame_stats(df, every_ms=500).collect()
    assert "YUV4MPEG2" in str(ei.value)


def test_frame_stats_matches_preencode_ground_truth(media):
    """frame_stats (y4m encode→decode→Y-plane stats) must equal
    expected_frame_stats (stats straight off the pre-encode frame
    arrays): lossless-roundtrip + exact ts→frame mapping."""
    got = sorted(
        (r.asDict() for r in mm.frame_stats(media, every_ms=700).collect()),
        key=lambda d: (d["media_id"], d["frame_ts_ms"]),
    )
    want = sorted(
        mm.expected_frame_stats(n=30, every_ms=700),
        key=lambda d: (d["media_id"], d["frame_ts_ms"]),
    )
    assert got == want


def test_y4m_roundtrip_property():
    """Lossless round-trip over arbitrary frame geometries."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from raft_c_spark.functions.y4m import y4m_decode, y4m_encode

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(0, 6),
        h=st.integers(1, 16),
        w=st.integers(1, 16),
        fn=st.integers(1, 60),
        fd=st.integers(1, 2),
        seed=st.integers(0, 2**31),
    )
    def prop(n, h, w, fn, fd, seed):
        frames = np.random.default_rng(seed).integers(
            0, 256, size=(n, h, w, 3), dtype=np.uint8
        )
        out, fps = y4m_decode(y4m_encode(frames, fps=(fn, fd)))
        assert fps == (fn, fd)
        assert out.shape == frames.shape
        assert (out == frames).all()

    prop()


def test_y4m_roundtrip_and_rejects():
    import numpy as np

    from raft_c_spark.functions.y4m import y4m_decode, y4m_encode

    frames = np.random.default_rng(1).integers(
        0, 256, size=(5, 8, 6, 3), dtype=np.uint8
    )
    out, fps = y4m_decode(y4m_encode(frames, fps=(25, 1)))
    assert fps == (25, 1)
    assert (out == frames).all()
    with pytest.raises(ValueError):
        y4m_decode(b"RIFF....AVI LIST")
    with pytest.raises(ValueError):  # unsupported colorspace
        y4m_decode(b"YUV4MPEG2 W2 H2 F1:1 C420jpeg\nFRAME\n" + b"\x00" * 6)


def test_real_resize_reencodes_pixels(media):
    """Real resize: output payloads are valid PNGs of the new size
    whose pixels are a nearest-neighbor selection of the originals."""
    import numpy as np

    from raft_c_spark.functions.png import png_decode, resize_nearest

    out = {
        r["media_id"]: r
        for r in mm.resize_images(media, 16, 12).collect()
    }
    orig = {
        r["media_id"]: r
        for r in media.filter(F.col("kind") == "image").collect()
    }
    assert set(out) == set(orig)
    for mid, r in out.items():
        px = png_decode(bytes(r["payload"]))
        assert px.shape == (12, 16, 3)
        expect = resize_nearest(png_decode(bytes(orig[mid]["payload"])), 16, 12)
        assert np.array_equal(px, expect)


def test_image_ahash_matches_pre_encode_ground_truth(spark):
    """The REAL decode path must reproduce the aHash computed from the
    raw pre-encode pixel arrays, bit for bit, for every corpus image
    (the decode-certification contract of mm_image_dedup)."""
    import duckdb

    from raft_c_spark.operators import multimodal as mm
    from raft_c_spark.plans.multimodal import (
        image_dedup_corpus_path,
        image_hashes_expected_parquet_path,
    )

    media = spark.read.parquet(image_dedup_corpus_path())
    got = {
        r["media_id"]: r["ahash"]
        for r in mm.image_ahash(media).collect()
    }
    exp = {
        mid: ah
        for mid, ah in duckdb.sql(
            f"SELECT media_id, ahash FROM "
            f"read_parquet('{image_hashes_expected_parquet_path()}')"
        ).fetchall()
    }
    assert got == exp and len(got) == 48


def test_image_dedup_finds_exactly_planted_pairs(spark):
    """Every planted perturbed-copy pair (i-1, i) for i % 4 == 3 is
    found at hamming ≤ 4, and NO unplanted pair qualifies (random
    images sit ~32 bits apart)."""
    from raft_c_spark.plans.multimodal import MM_DEDUP_N, q_mm_image_dedup

    pairs = {
        (r["a"], r["b"])
        for r in q_mm_image_dedup(spark, "/root/testdata/sf0.001").collect()
    }
    planted = {(i - 1, i) for i in range(3, MM_DEDUP_N, 4)}
    assert pairs == planted


def test_audio_ahash_matches_pre_encode_ground_truth(spark):
    """The REAL WAV decode path must reproduce the energy hash
    computed from the raw pre-encode PCM arrays, bit for bit."""
    import duckdb

    from raft_c_spark.operators import multimodal as mm
    from raft_c_spark.plans.multimodal import (
        audio_dedup_corpus_path,
        audio_hashes_expected_parquet_path,
    )

    media = spark.read.parquet(audio_dedup_corpus_path())
    got = {
        r["media_id"]: r["ahash"] for r in mm.audio_ahash(media).collect()
    }
    exp = {
        mid: ah
        for mid, ah in duckdb.sql(
            f"SELECT media_id, ahash FROM "
            f"read_parquet('{audio_hashes_expected_parquet_path()}')"
        ).fetchall()
    }
    assert got == exp and len(got) == 48


def test_audio_dedup_finds_exactly_planted_pairs(spark):
    """Planted perturbed copies (+700 on every 13th sample) hash
    IDENTICALLY — the mean-relative energy hash is invariant to a
    uniform energy shift by construction (global mean moves with the
    blocks), which is precisely its dup-detection robustness. No
    unplanted pair qualifies (64 quasi-independent envelope bits)."""
    from raft_c_spark.plans.multimodal import (
        MM_ADEDUP_N,
        q_mm_audio_dedup,
    )

    rows = q_mm_audio_dedup(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    assert pairs == {(i - 1, i) for i in range(3, MM_ADEDUP_N, 4)}
    assert all(r["hamming"] == 0 for r in rows)


def test_video_ahash_matches_pre_encode_ground_truth(spark):
    """The REAL y4m decode path must reproduce the temporal-mean-frame
    hash computed from the raw pre-encode frame stacks, bit for bit."""
    import duckdb

    from raft_c_spark.operators import multimodal as mm
    from raft_c_spark.plans.multimodal import (
        video_dedup_corpus_path,
        video_hashes_expected_parquet_path,
    )

    media = spark.read.parquet(video_dedup_corpus_path())
    got = {
        r["media_id"]: r["ahash"] for r in mm.video_ahash(media).collect()
    }
    exp = {
        mid: ah
        for mid, ah in duckdb.sql(
            f"SELECT media_id, ahash FROM "
            f"read_parquet('{video_hashes_expected_parquet_path()}')"
        ).fetchall()
    }
    assert got == exp and len(got) == 36


def test_video_dedup_finds_exactly_planted_pairs(spark):
    from raft_c_spark.plans.multimodal import (
        MM_VDEDUP_N,
        q_mm_video_dedup,
    )

    pairs = {
        (r["a"], r["b"])
        for r in q_mm_video_dedup(spark, "/root/testdata/sf0.001").collect()
    }
    assert pairs == {(i - 1, i) for i in range(3, MM_VDEDUP_N, 4)}
