"""Driver-facing multimodal queries. The driver ships no media
parquet, so these run over the deterministic synthetic media table
(seeded, identical every run) — rows-only driver checks; the Spark
plumbing (binary columns, Arrow batching, row explosion) is the thing
under test, with correctness pinned by tests/test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from raft_c_spark.operators import multimodal as mm
from raft_c_spark.sources.parquet import read_parquet


MM_FEATURES_N = 128


def q_mm_features(spark, sf_dir):
    """Feature extraction over every media row (image/audio/video) —
    payload → fixed-size vector via the Arrow-batched kernel; returns
    id, kind, and the feature norm (stable scalar summary).
    Hash-oracled: the deterministic feature kernel replayed off the
    same payloads without Spark (``expected_feature_norms``) gives a
    ground-truth parquet the DuckDB oracle reads — a hash match pins
    the Arrow batch plumbing (binary transfer, float32 storage, the
    fold) end-to-end."""
    media = mm.synthetic_media(spark, n=MM_FEATURES_N)
    feats = mm.extract_features(media)
    from raft_c_spark.operators.similarity import dot_fold

    return feats.select(
        "media_id",
        "kind",
        F.sqrt(dot_fold("features", "features")).alias("feature_norm"),
    )


def expected_feature_norms(n: int, seed: int = 42) -> list[dict]:
    """Ground truth for q_mm_features: the same fake-feature kernel on
    the same payloads, with the query's exact float semantics — the
    features column stores float32, zip_with multiplies in float32,
    and the aggregate accumulates in float64."""
    import math

    import numpy as np

    out = []
    for row in mm.synthetic_media_rows(n, seed):
        f32 = np.asarray(mm._fake_features(row["payload"]), dtype=np.float32)
        acc = 0.0
        for v in f32:
            acc += float(np.float32(v * v))
        out.append(
            {
                "media_id": row["media_id"],
                "kind": row["kind"],
                "feature_norm": math.sqrt(acc),
            }
        )
    return out


def q_mm_frame_index(spark, sf_dir):
    """Video frame sampling (1 row per sampled frame) joined back to
    media metadata — the row-explosion + re-join shape of a real
    frame-indexing pipeline."""
    media = mm.synthetic_media(spark, n=MM_INDEX_N)
    frames = mm.sample_frames(media, every_ms=MM_INDEX_EVERY_MS)
    meta = media.select("media_id", "mime", "duration_ms")
    return (
        frames.join(F.broadcast(meta), "media_id")
        .groupBy("media_id", "mime", "duration_ms")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").alias("last_frame_ms"),
        )
        .orderBy("media_id")
    )


MM_N = 96  # media rows in the driver-facing corpus (64 image+audio)
MM_SEED = 42
#: bump when DECODE_STATS_SCHEMA or the generation params change —
#: part of the expected-parquet cache key
MM_EXPECTED_VERSION = 2


def q_mm_real_decode(spark, sf_dir):
    """REAL decode path end-to-end, driver-hash-verifiable: the
    synthetic PNG/WAV payloads are genuinely decoded (stdlib-only
    codecs — functions/png.py for images, ``wave`` for audio) and
    summarized as exact-integer pixel/sample statistics. The DuckDB
    oracle reads the pre-encode ground truth
    (``expected_decode_stats`` → parquet), so a hash match proves the
    encode→decode round-trip is lossless — no floats, no tolerance.
    Video is excluded here (its real path is the frame sampler)."""
    media = mm.synthetic_media(spark, n=MM_N, seed=MM_SEED).filter(
        F.col("kind").isin("image", "audio")
    )
    return mm.decode_stats(media)


MM_EVERY_MS = 500  # frame-sampling stride for the real video query


def _ground_truth_parquet(key: str, rows, fields: list) -> str:
    """Materialize ground-truth rows as parquet (pure pyarrow, no
    Spark — the oracle side runs without a session) under the
    repo-local cache, atomically; return the absolute path for
    read_parquet(). ``rows()`` returns the row list; it is called only
    on a cache miss, so a hit never recomputes an expensive replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raft_c_spark.functions import diskcache

    def write(staging: str) -> None:
        pq.write_table(
            pa.Table.from_pylist(rows(), schema=pa.schema(fields)), staging
        )

    return diskcache.materialize(key, write)


def expected_parquet_path() -> str:
    """Ground-truth decode stats (pre-encode pixel/sample arrays) for
    the mm_real_decode oracle, keyed by every generation parameter."""
    import pyarrow as pa

    return _ground_truth_parquet(
        f"mm_decode_expected_v{MM_EXPECTED_VERSION}"
        f"_n{MM_N}_seed{MM_SEED}.parquet",
        lambda: mm.expected_decode_stats(n=MM_N, seed=MM_SEED),
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("width", pa.int64()),
            ("height", pa.int64()),
            ("n_units", pa.int64()),
            ("val_sum", pa.int64()),
            ("val_min", pa.int64()),
            ("val_max", pa.int64()),
        ],
    )


def frames_expected_parquet_path() -> str:
    """Ground-truth sampled-frame stats (pre-encode frame arrays) for
    the mm_real_frames oracle."""
    import pyarrow as pa

    return _ground_truth_parquet(
        f"mm_frames_expected_v{MM_EXPECTED_VERSION}"
        f"_n{MM_N}_seed{MM_SEED}_e{MM_EVERY_MS}.parquet",
        lambda: mm.expected_frame_stats(
            n=MM_N, seed=MM_SEED, every_ms=MM_EVERY_MS
        ),
        [
            ("media_id", pa.int64()),
            ("frame_idx", pa.int64()),
            ("frame_ts_ms", pa.int64()),
            ("width", pa.int64()),
            ("height", pa.int64()),
            ("y_sum", pa.int64()),
            ("y_min", pa.int64()),
            ("y_max", pa.int64()),
        ],
    )


MM_RESIZE_W, MM_RESIZE_H = 32, 24


def q_mm_real_resize(spark, sf_dir):
    """REAL image resize end-to-end: PNG payloads are genuinely
    decoded, nearest-neighbor resized to 32×24, re-encoded, then
    decoded AGAIN for exact-integer pixel stats. The oracle reads
    pre-encode ground truth (the same ``resize_nearest`` over the raw
    arrays, never touching the codec), so a hash match proves the
    decode→resize→encode→decode chain is lossless."""
    media = mm.synthetic_media(spark, n=MM_N, seed=MM_SEED)
    resized = mm.resize_images(media, MM_RESIZE_W, MM_RESIZE_H)
    return mm.decode_stats(resized)


def expected_resize_stats(
    n: int, seed: int, w: int, h: int
) -> list[dict]:
    """Ground truth for q_mm_real_resize: the same nearest-neighbor
    kernel over the PRE-ENCODE pixel arrays."""
    from raft_c_spark.functions.png import resize_nearest

    out = []
    for i in range(n):
        if i % 3 != 0:
            continue  # not an image row
        src = mm.synthetic_pixels(i, seed, 64 + i % 32, 48 + i % 24)
        out.append(
            {
                "media_id": i,
                "kind": "image",
                **mm._pixel_stats(resize_nearest(src, w, h)),
            }
        )
    return out


def resize_expected_parquet_path() -> str:
    import pyarrow as pa

    return _ground_truth_parquet(
        f"mm_resize_expected_v{MM_EXPECTED_VERSION}"
        f"_n{MM_N}_s{MM_SEED}_{MM_RESIZE_W}x{MM_RESIZE_H}.parquet",
        lambda: expected_resize_stats(
            MM_N, MM_SEED, MM_RESIZE_W, MM_RESIZE_H
        ),
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("width", pa.int64()),
            ("height", pa.int64()),
            ("n_units", pa.int64()),
            ("val_sum", pa.int64()),
            ("val_min", pa.int64()),
            ("val_max", pa.int64()),
        ],
    )


MM_INDEX_N = 128  # media rows in the frame-index corpus
MM_INDEX_EVERY_MS = 500


def expected_frame_index(n: int, every_ms: int) -> list[dict]:
    """Ground truth for q_mm_frame_index, derived purely from the
    generation parameters (duration per id): n_frames = samples of
    range(0, dur, every_ms), last at the largest multiple below dur.
    No decoding involved — the query's fake path never reads payloads
    either; what the oracle pins is the explode/join/aggregate
    plumbing."""
    out = []
    for i in range(n):
        if i % 3 != 2:
            continue
        dur = 1000 * (1 + i % 7)
        ticks = range(0, max(dur, 1), every_ms)
        out.append(
            {
                "media_id": i,
                "mime": "video/x-yuv4mpeg",
                "duration_ms": dur,
                "n_frames": len(ticks),
                "last_frame_ms": ticks[-1],
            }
        )
    return out


def frame_index_expected_parquet_path() -> str:
    import pyarrow as pa

    return _ground_truth_parquet(
        f"mm_frame_index_expected_v{MM_EXPECTED_VERSION}"
        f"_n{MM_INDEX_N}_e{MM_INDEX_EVERY_MS}.parquet",
        lambda: expected_frame_index(MM_INDEX_N, MM_INDEX_EVERY_MS),
        [
            ("media_id", pa.int64()),
            ("mime", pa.string()),
            ("duration_ms", pa.int64()),
            ("n_frames", pa.int64()),
            ("last_frame_ms", pa.int64()),
        ],
    )


def q_mm_real_frames(spark, sf_dir):
    """REAL video decode end-to-end: y4m payloads genuinely decoded
    (stdlib codec — functions/y4m.py), one row of exact-integer
    Y-plane stats per sampled frame. The oracle reads the pre-encode
    ground truth, so a hash match proves the y4m round-trip and the
    ts→frame mapping are exact."""
    media = mm.synthetic_media(spark, n=MM_N, seed=MM_SEED)
    return mm.frame_stats(media, every_ms=MM_EVERY_MS)


QUERIES = {
    # mm_real_decode (the stronger demonstration: genuinely decoded
    # pixels/samples, exact-integer oracle) holds the multimodal
    # family's window slot; mm_features and mm_frame_index register
    # via plans.extras behind the driver's 50-query window
    "mm_real_decode": q_mm_real_decode,
}

def features_expected_parquet_path() -> str:
    import pyarrow as pa

    return _ground_truth_parquet(
        f"mm_features_expected_v{MM_EXPECTED_VERSION}"
        f"_n{MM_FEATURES_N}_s42.parquet",
        lambda: expected_feature_norms(MM_FEATURES_N),
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("feature_norm", pa.float64()),
        ],
    )


ORACLES: dict[str, str] = {
    "mm_real_decode": (
        "SELECT media_id, kind, width, height, n_units, "
        f"val_sum, val_min, val_max FROM read_parquet('{expected_parquet_path()}')"
    ),
}


# ---- image near-dup dedup: REAL decode → aHash → pairs ----

MM_DEDUP_N = 48  # image-only dup corpus size
MM_DEDUP_SEED = 43
MM_DEDUP_EVERY = 4  # every 4th image is a perturbed copy of its predecessor
MM_DEDUP_MAXHAM = 4
MM_DEDUP_VERSION = 1


def _dedup_pixels(i: int) -> "object":
    """Pre-encode pixel ground truth for the dup corpus: every
    MM_DEDUP_EVERY-th image is its predecessor brightened by +3 on a
    sparse pixel stride — a near-duplicate whose aHash sits within a
    few bits (clip keeps uint8 exact; the hash replays from these
    arrays without any codec)."""
    import numpy as np

    from raft_c_spark.operators.multimodal import synthetic_pixels

    if i % MM_DEDUP_EVERY == MM_DEDUP_EVERY - 1:
        base = _dedup_pixels(i - 1)
        out = base.copy()
        out[::7, ::5] = np.clip(out[::7, ::5].astype(np.int32) + 3, 0, 255)
        return out.astype(np.uint8)
    w, h = 64 + i % 32, 48 + i % 24
    return synthetic_pixels(i, MM_DEDUP_SEED, w, h)


def image_dedup_corpus_path() -> str:
    """Materialize the dup-planted image corpus (real PNG payloads) as
    parquet."""
    import pyarrow as pa

    from raft_c_spark.functions.png import png_encode

    def rows():
        out = []
        for i in range(MM_DEDUP_N):
            px = _dedup_pixels(i)
            out.append(
                {
                    "media_id": i,
                    "kind": "image",
                    "payload": png_encode(px),
                    "mime": "image/png",
                    "width": int(px.shape[1]),
                    "height": int(px.shape[0]),
                }
            )
        return out

    return _ground_truth_parquet(
        f"media_dedup_v{MM_DEDUP_VERSION}_n{MM_DEDUP_N}_s{MM_DEDUP_SEED}.parquet",
        rows,
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("payload", pa.binary()),
            ("mime", pa.string()),
            ("width", pa.int32()),
            ("height", pa.int32()),
        ],
    )


def image_hashes_expected_parquet_path() -> str:
    """Ground-truth aHashes + pigeonhole chunks computed from the
    PRE-ENCODE pixel arrays (no PNG codec anywhere on this side) —
    a driver hash match therefore proves the real decode path
    reproduces the raw pixels bit-exactly AND the hash/pair logic
    agrees across engines."""
    import pyarrow as pa

    def rows():
        from raft_c_spark.operators.multimodal import (
            ahash64_from_pixels,
            ahash_chunks,
        )

        out = []
        for i in range(MM_DEDUP_N):
            a = ahash64_from_pixels(_dedup_pixels(i))
            c = ahash_chunks(a)
            out.append(
                {
                    "media_id": i,
                    "ahash": a,
                    "c0": c[0], "c1": c[1], "c2": c[2], "c3": c[3], "c4": c[4],
                }
            )
        return out

    return _ground_truth_parquet(
        f"expected_image_hashes_v{MM_DEDUP_VERSION}_n{MM_DEDUP_N}"
        f"_s{MM_DEDUP_SEED}.parquet",
        rows,
        [
            ("media_id", pa.int64()),
            ("ahash", pa.int64()),
            ("c0", pa.int32()), ("c1", pa.int32()), ("c2", pa.int32()),
            ("c3", pa.int32()), ("c4", pa.int32()),
        ],
    )


def q_mm_image_dedup(spark, sf_dir):
    """Image near-dup pairs over the dup-planted corpus: REAL PNG
    decode → integer-exact aHash → pigeonhole chunk join →
    bit_count(xor) ≤ 4 — the visual dual of SimHash dedup (see
    multimodal.image_ahash / ahash_pairs). Oracle: the identical
    pair logic in SQL over hashes computed from the PRE-ENCODE
    pixels, so the driver hash match certifies the decode."""
    from raft_c_spark.operators import multimodal as mm

    media = read_parquet(spark, image_dedup_corpus_path())
    return mm.ahash_pairs(mm.image_ahash(media), max_hamming=MM_DEDUP_MAXHAM)


QUERIES["mm_image_dedup"] = q_mm_image_dedup

ORACLES["mm_image_dedup"] = f"""
    WITH h AS (
        SELECT * FROM read_parquet('{image_hashes_expected_parquet_path()}')
    ),
    m AS (
        SELECT media_id, ahash, unnest([c0, c1, c2, c3, c4]) AS v,
               unnest([0, 1, 2, 3, 4]) AS j
        FROM h
    )
    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
           bit_count(xor(x.ahash, y.ahash)) AS hamming
    FROM m x JOIN m y ON x.j = y.j AND x.v = y.v AND x.media_id < y.media_id
    WHERE bit_count(xor(x.ahash, y.ahash)) <= {MM_DEDUP_MAXHAM}
"""


# ---- audio near-dup dedup: REAL WAV decode → energy hash ----

MM_ADEDUP_N = 48
MM_ADEDUP_SEED = 47
MM_ADEDUP_VERSION = 3


def _dedup_pcm(i: int) -> "object":
    """Pre-encode PCM ground truth for the audio dup corpus: an
    amplitude-modulated sine (64-segment seeded envelope — one
    envelope point per hash block, so all 64 bits are quasi-
    independent; an 8-segment envelope left only ~8 effective bits
    and 48 clips collided by birthday); every MM_DEDUP_EVERY-th row is its
    predecessor with +700 added to every 13th sample (clipped int16)
    — a genuine perturbation (block energies shift ~54 counts) that
    still lands within a few hash bits."""
    import numpy as np

    if i % MM_DEDUP_EVERY == MM_DEDUP_EVERY - 1:
        base = _dedup_pcm(i - 1)
        out = base.astype(np.int32).copy()
        out[::13] = np.clip(out[::13] + 700, -32768, 32767)
        return out.astype(np.int16)
    rng = np.random.default_rng(MM_ADEDUP_SEED * 1_000_003 + i)
    rate, dur_ms = 8000, 1000 * (1 + i % 5)
    n = rate * dur_ms // 1000
    freq = 110.0 * (1 + i % 16)
    t = np.arange(n) / rate
    env_pts = rng.uniform(0.15, 1.0, size=64)
    env = np.repeat(env_pts, (n + 63) // 64)[:n]
    x = env * np.sin(2 * np.pi * freq * t)
    return (x * 30000).astype(np.int16)


def audio_dedup_corpus_path() -> str:
    """Materialize the dup-planted audio corpus (real 16-bit WAV
    payloads) as parquet."""
    import io
    import wave

    import pyarrow as pa

    def rows():
        out = []
        for i in range(MM_ADEDUP_N):
            pcm = _dedup_pcm(i)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(8000)
                wf.writeframes(pcm.tobytes())
            out.append(
                {
                    "media_id": i,
                    "kind": "audio",
                    "payload": buf.getvalue(),
                    "mime": "audio/wav",
                    "duration_ms": int(len(pcm) * 1000 // 8000),
                }
            )
        return out

    return _ground_truth_parquet(
        f"media_adedup_v{MM_ADEDUP_VERSION}_n{MM_ADEDUP_N}"
        f"_s{MM_ADEDUP_SEED}.parquet",
        rows,
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("payload", pa.binary()),
            ("mime", pa.string()),
            ("duration_ms", pa.int64()),
        ],
    )


def audio_hashes_expected_parquet_path() -> str:
    """Ground-truth energy hashes from the PRE-ENCODE PCM arrays (no
    wave codec on this side) — the audio decode-certification dual of
    image_hashes_expected_parquet_path."""
    import pyarrow as pa

    def rows():
        from raft_c_spark.operators.multimodal import (
            ahash_chunks,
            audio_ahash64_from_pcm,
        )

        out = []
        for i in range(MM_ADEDUP_N):
            if len(_dedup_pcm(i)) < 64:
                # kernel parity: audio_ahash EXCLUDES sub-64-sample clips
                # (0-sentinel false-duplicate trap); dormant here — every
                # corpus clip is ≥ 8000 samples — but the builders must
                # mirror the kernel contract
                continue
            a = audio_ahash64_from_pcm(_dedup_pcm(i))
            c = ahash_chunks(a)
            out.append(
                {
                    "media_id": i,
                    "ahash": a,
                    "c0": c[0], "c1": c[1], "c2": c[2], "c3": c[3], "c4": c[4],
                }
            )
        return out

    return _ground_truth_parquet(
        f"expected_audio_hashes_v{MM_ADEDUP_VERSION}_n{MM_ADEDUP_N}"
        f"_s{MM_ADEDUP_SEED}.parquet",
        rows,
        [
            ("media_id", pa.int64()),
            ("ahash", pa.int64()),
            ("c0", pa.int32()), ("c1", pa.int32()), ("c2", pa.int32()),
            ("c3", pa.int32()), ("c4", pa.int32()),
        ],
    )


def q_mm_audio_dedup(spark, sf_dir):
    """Audio near-dup pairs: REAL WAV decode → integer-exact 64-block
    energy hash → the same pigeonhole pair join as mm_image_dedup
    (multimodal.ahash_pairs serves both modalities). Oracle replays
    the pair SQL over hashes computed from PRE-ENCODE PCM — the hash
    match certifies the audio decode bit-exactly."""
    from raft_c_spark.operators import multimodal as mm

    media = read_parquet(spark, audio_dedup_corpus_path())
    return mm.ahash_pairs(mm.audio_ahash(media), max_hamming=MM_DEDUP_MAXHAM)


QUERIES["mm_audio_dedup"] = q_mm_audio_dedup

ORACLES["mm_audio_dedup"] = f"""
    WITH h AS (
        SELECT * FROM read_parquet('{audio_hashes_expected_parquet_path()}')
    ),
    m AS (
        SELECT media_id, ahash, unnest([c0, c1, c2, c3, c4]) AS v,
               unnest([0, 1, 2, 3, 4]) AS j
        FROM h
    )
    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
           bit_count(xor(x.ahash, y.ahash)) AS hamming
    FROM m x JOIN m y ON x.j = y.j AND x.v = y.v AND x.media_id < y.media_id
    WHERE bit_count(xor(x.ahash, y.ahash)) <= {MM_DEDUP_MAXHAM}
"""


# ---- video near-dup dedup: REAL y4m decode → frame hash ----

MM_VDEDUP_N = 36
MM_VDEDUP_SEED = 53
MM_VDEDUP_VERSION = 2


def _dedup_frames(i: int) -> "object":
    """Pre-encode frame ground truth for the video dup corpus: a
    STATIC seeded spatial pattern plus independent per-frame noise
    (±20) — real clips have spatial structure that survives temporal
    averaging; frame stacks of pure noise average to a near-uniform
    gray whose 8×8 blocks all sit within a couple of counts of the
    global mean, a degenerate aHash regime where any perturbation
    flips many bits (the v1 corpus measured one planted pair at
    hamming > 4 exactly that way). Every MM_DEDUP_EVERY-th row reuses
    its predecessor's frames with +3 (clipped) on a sparse pixel
    stride of every frame — a near-duplicate clip within a few
    bits."""
    import numpy as np

    from raft_c_spark.operators.multimodal import VIDEO_H, VIDEO_W

    if i % MM_DEDUP_EVERY == MM_DEDUP_EVERY - 1:
        base = _dedup_frames(i - 1)
        out = base.astype(np.int32).copy()
        out[:, ::5, ::7, :] = np.clip(out[:, ::5, ::7, :] + 3, 0, 255)
        return out.astype(np.uint8)
    dur_ms = 1000 * (1 + i % 7)
    n = max(1, dur_ms * 4 // 1000)
    rng = np.random.default_rng(MM_VDEDUP_SEED * 1_000_003 + i)
    pattern = rng.integers(0, 256, size=(VIDEO_H, VIDEO_W, 3), dtype=np.int32)
    noise = rng.integers(-20, 21, size=(n, VIDEO_H, VIDEO_W, 3))
    return np.clip(pattern[None] + noise, 0, 255).astype(np.uint8)


def video_dedup_corpus_path() -> str:
    """Materialize the dup-planted video corpus (real y4m payloads)
    as parquet."""
    import pyarrow as pa

    from raft_c_spark.functions.y4m import y4m_encode

    def rows():
        out = []
        for i in range(MM_VDEDUP_N):
            frames = _dedup_frames(i)
            out.append(
                {
                    "media_id": i,
                    "kind": "video",
                    "payload": y4m_encode(frames, fps=(4, 1)),
                    "mime": "video/x-yuv4mpeg",
                    "duration_ms": int(frames.shape[0] * 1000 // 4),
                }
            )
        return out

    return _ground_truth_parquet(
        f"media_vdedup_v{MM_VDEDUP_VERSION}_n{MM_VDEDUP_N}"
        f"_s{MM_VDEDUP_SEED}.parquet",
        rows,
        [
            ("media_id", pa.int64()),
            ("kind", pa.string()),
            ("payload", pa.binary()),
            ("mime", pa.string()),
            ("duration_ms", pa.int64()),
        ],
    )


def video_hashes_expected_parquet_path() -> str:
    """Ground-truth mean-frame hashes from the PRE-ENCODE frame
    arrays (no y4m codec on this side) — the video member of the
    decode-certification triple."""
    import pyarrow as pa

    def rows():
        from raft_c_spark.operators.multimodal import (
            ahash_chunks,
            video_ahash64_from_frames,
        )

        out = []
        for i in range(MM_VDEDUP_N):
            if _dedup_frames(i).shape[0] == 0:
                continue  # kernel parity: zero-frame clips are excluded
            a = video_ahash64_from_frames(_dedup_frames(i))
            c = ahash_chunks(a)
            out.append(
                {
                    "media_id": i,
                    "ahash": a,
                    "c0": c[0], "c1": c[1], "c2": c[2], "c3": c[3], "c4": c[4],
                }
            )
        return out

    return _ground_truth_parquet(
        f"expected_video_hashes_v{MM_VDEDUP_VERSION}_n{MM_VDEDUP_N}"
        f"_s{MM_VDEDUP_SEED}.parquet",
        rows,
        [
            ("media_id", pa.int64()),
            ("ahash", pa.int64()),
            ("c0", pa.int32()), ("c1", pa.int32()), ("c2", pa.int32()),
            ("c3", pa.int32()), ("c4", pa.int32()),
        ],
    )


def q_mm_video_dedup(spark, sf_dir):
    """Video near-dup pairs: REAL y4m decode → temporal-mean-frame
    aHash → the shared pigeonhole pair join — completing the
    image/audio/video decode-certifying dedup triple."""
    from raft_c_spark.operators import multimodal as mm

    media = read_parquet(spark, video_dedup_corpus_path())
    return mm.ahash_pairs(mm.video_ahash(media), max_hamming=MM_DEDUP_MAXHAM)


QUERIES["mm_video_dedup"] = q_mm_video_dedup

ORACLES["mm_video_dedup"] = f"""
    WITH h AS (
        SELECT * FROM read_parquet('{video_hashes_expected_parquet_path()}')
    ),
    m AS (
        SELECT media_id, ahash, unnest([c0, c1, c2, c3, c4]) AS v,
               unnest([0, 1, 2, 3, 4]) AS j
        FROM h
    )
    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
           bit_count(xor(x.ahash, y.ahash)) AS hamming
    FROM m x JOIN m y ON x.j = y.j AND x.v = y.v AND x.media_id < y.media_id
    WHERE bit_count(xor(x.ahash, y.ahash)) <= {MM_DEDUP_MAXHAM}
"""
