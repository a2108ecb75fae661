"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched pandas
iterators (mapInPandas).

Each operator has one decode mode, the one its query runs:

- ``extract_features`` and ``sample_frames`` derive features from the
  bytes with a deterministic md5-seeded fake — they exercise the real
  Spark plumbing (schema, Arrow batching, partitioning, row
  explosion) without interpreting the payload;
- ``resize_images``, ``decode_stats``, ``frame_stats`` and the
  ``*_ahash`` operators genuinely decode: images through the
  stdlib-only PNG codec (functions/png.py — zlib + struct, all five
  scanline filters), audio through the stdlib ``wave`` module, and
  video through the stdlib-only y4m codec (functions/y4m.py —
  uncompressed YUV4MPEG2 frame streams). Compressed containers
  (mp4/webm/JPEG) have no stdlib codec and fail loudly at the decode
  seam, marking exactly where a production codec (ffmpeg/av) plugs
  in.

Scale notes: media bytes never pass through a shuffle — all kernels
are narrow mapInPandas transforms; only extracted features (small,
fixed-size) flow into joins/aggregations downstream. Batch size is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a
partition of large blobs doesn't blow executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from raft_c_spark.sources.parquet import read_parquet

#: media row schema: opaque payload + typed metadata (the engine never
#: interprets the bytes outside a decode kernel)
MEDIA_SCHEMA = Ty.StructType(
    [
        Ty.StructField("media_id", Ty.LongType(), False),
        Ty.StructField("kind", Ty.StringType(), False),  # image|audio|video
        Ty.StructField("payload", Ty.BinaryType(), False),
        Ty.StructField("mime", Ty.StringType(), True),
        Ty.StructField("width", Ty.IntegerType(), True),
        Ty.StructField("height", Ty.IntegerType(), True),
        Ty.StructField("duration_ms", Ty.LongType(), True),
    ]
)

FEATURE_DIM = 16

_FEATURES_FIELD = Ty.StructField(
    "features", Ty.ArrayType(Ty.FloatType()), True
)


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a decode+embed kernel: md5 of the
    bytes → seeded uniform features. Stable across runs/engines."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return [float(x) for x in rng.uniform(-1.0, 1.0, dim)]


def extract_features(df: DataFrame) -> DataFrame:
    """payload → fixed-size feature vector, per-batch via mapInPandas
    (Arrow transfer, no per-row python overhead)."""
    out_schema = Ty.StructType(
        [f for f in df.schema.fields if f.name != "payload"] + [_FEATURES_FIELD]
    )
    cols = [f.name for f in out_schema.fields if f.name != "features"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_features(bytes(p)) for p in pdf["payload"]]
            yield pdf[cols].assign(features=feats)

    return df.mapInPandas(kernel, out_schema)


#: exact-integer decode summary — hash-stable across engines (no
#: float arithmetic), so the driver's DuckDB oracle can verify the
#: real decode path bit-for-bit
DECODE_STATS_SCHEMA = Ty.StructType(
    [
        Ty.StructField("media_id", Ty.LongType(), False),
        Ty.StructField("kind", Ty.StringType(), False),
        Ty.StructField("width", Ty.LongType(), True),
        Ty.StructField("height", Ty.LongType(), True),
        Ty.StructField("n_units", Ty.LongType(), False),
        Ty.StructField("val_sum", Ty.LongType(), False),
        Ty.StructField("val_min", Ty.LongType(), True),
        Ty.StructField("val_max", Ty.LongType(), True),
    ]
)

_DECODE_STATS_COLS = [f.name for f in DECODE_STATS_SCHEMA.fields]


def _pixel_stats(px: "np.ndarray") -> dict:
    """Exact integer stats over a decoded (h, w, ch) uint8 array.
    n_units counts samples (w*h*ch); sums are exact int64."""
    flat = px.astype(np.int64)
    return {
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "n_units": int(px.size),
        "val_sum": int(flat.sum()),
        "val_min": int(px.min()) if px.size else None,
        "val_max": int(px.max()) if px.size else None,
    }


def _sample_stats(pcm: "np.ndarray") -> dict:
    """Exact integer stats over int16 PCM samples: n_units = sample
    count, val_sum = sum of |sample| (int64-exact)."""
    x = np.asarray(pcm, dtype=np.int64)
    return {
        "width": None,
        "height": None,
        "n_units": int(len(x)),
        "val_sum": int(np.abs(x).sum()),
        "val_min": int(x.min()) if len(x) else None,
        "val_max": int(x.max()) if len(x) else None,
    }


def decode_stats(df: DataFrame) -> DataFrame:
    """Genuinely decode every image/audio payload (stdlib PNG codec /
    ``wave``) and emit exact-integer pixel/sample statistics — the
    driver-verifiable face of the real decode path: the numbers match
    the pre-encode ground truth (``expected_decode_stats``) only if
    the PNG/WAV encode→decode round-trip is lossless.

    Arrow-batched ``mapInPandas``; payload bytes never shuffle."""
    from raft_c_spark.functions.png import png_decode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind == "image":
                    stats = _pixel_stats(png_decode(bytes(payload)))
                elif kind == "audio":
                    with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
                        if wf.getsampwidth() != 2:
                            raise ValueError("only 16-bit PCM WAV supported")
                        pcm = np.frombuffer(
                            wf.readframes(wf.getnframes()), dtype="<i2"
                        )
                    stats = _sample_stats(pcm)
                else:
                    # video stats have their own per-frame schema and
                    # kernel (frame_stats / sample_frames via the y4m
                    # codec); this kernel is image/audio-only
                    raise ValueError(
                        f"decode_stats handles image/audio; got kind="
                        f"{kind} (video goes through frame_stats / "
                        f"sample_frames)"
                    )
                rows.append({"media_id": int(mid), "kind": str(kind), **stats})
            yield pd.DataFrame(rows, columns=_DECODE_STATS_COLS)

    return df.select("media_id", "kind", "payload").mapInPandas(
        kernel, DECODE_STATS_SCHEMA
    )


def expected_decode_stats(n: int = 64, seed: int = 42) -> list[dict]:
    """Ground-truth decode stats for ``synthetic_media(n, seed)``,
    computed directly from the PRE-ENCODE raw arrays (synthetic_pixels
    / synthetic_pcm) — deliberately never touching the PNG/WAV codecs,
    so comparing against ``decode_stats`` verifies the whole
    encode→decode round-trip. Pure Python+numpy (no Spark): the
    oracle side materializes this without a session."""
    out = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = 64 + i % 32, 48 + i % 24
            stats = _pixel_stats(synthetic_pixels(i, seed, w, h))
        elif kind == "audio":
            dur = 1000 * (1 + i % 7)
            stats = _sample_stats(synthetic_pcm(i, seed, dur))
        else:
            # video decode is real too (functions/y4m.py) but scoped
            # to the frame path — see expected_frame_stats
            continue
        out.append({"media_id": i, "kind": kind, **stats})
    return out


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize kernel: decodes each PNG, nearest-neighbor resizes
    the pixel array, re-encodes it, and updates the width/height
    metadata."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raft_c_spark.functions.png import (
            png_decode,
            png_encode,
            resize_nearest,
        )

        for pdf in batches:
            pdf = pdf.assign(
                payload=[
                    png_encode(resize_nearest(png_decode(bytes(p)), width, height))
                    for p in pdf["payload"]
                ]
            )
            yield pdf.assign(width=width, height=height)

    return df.filter(F.col("kind") == "image").mapInPandas(kernel, df.schema)


def sample_frames(df: DataFrame, every_ms: int) -> DataFrame:
    """Video frame sampling: one output row per sampled frame
    (media_id, frame_idx, frame_ts_ms, features). The frame count
    comes from duration_ms and the features from (payload,
    frame_idx) — the real row-explosion shape without touching the
    payload (``frame_stats`` decodes the stream)."""
    out_schema = Ty.StructType(
        [
            Ty.StructField("media_id", Ty.LongType(), False),
            Ty.StructField("frame_idx", Ty.IntegerType(), False),
            Ty.StructField("frame_ts_ms", Ty.LongType(), False),
            _FEATURES_FIELD,
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                dur = int(r["duration_ms"] or 0)
                for idx, ts in enumerate(range(0, max(dur, 1), every_ms)):
                    rows.append(
                        {
                            "media_id": r["media_id"],
                            "frame_idx": idx,
                            "frame_ts_ms": ts,
                            "features": _fake_features(
                                bytes(r["payload"]) + idx.to_bytes(4, "big")
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_ts_ms", "features"]
            )

    return df.filter(F.col("kind") == "video").mapInPandas(kernel, out_schema)


#: exact-integer per-sampled-frame summary (oracle-verifiable like
#: DECODE_STATS_SCHEMA): stats over the sampled frame's Y plane
FRAME_STATS_SCHEMA = Ty.StructType(
    [
        Ty.StructField("media_id", Ty.LongType(), False),
        Ty.StructField("frame_idx", Ty.LongType(), False),
        Ty.StructField("frame_ts_ms", Ty.LongType(), False),
        Ty.StructField("width", Ty.LongType(), False),
        Ty.StructField("height", Ty.LongType(), False),
        Ty.StructField("y_sum", Ty.LongType(), False),
        Ty.StructField("y_min", Ty.LongType(), False),
        Ty.StructField("y_max", Ty.LongType(), False),
    ]
)


def _y_plane_stats(mid: int, fi: int, ts: int, frame: "np.ndarray") -> dict:
    y = frame[:, :, 0].astype(np.int64)
    return {
        "media_id": int(mid),
        "frame_idx": int(fi),
        "frame_ts_ms": int(ts),
        "width": int(frame.shape[1]),
        "height": int(frame.shape[0]),
        "y_sum": int(y.sum()),
        "y_min": int(y.min()),
        "y_max": int(y.max()),
    }


def frame_stats(df: DataFrame, every_ms: int) -> DataFrame:
    """Genuinely decode every video payload (stdlib y4m codec) and
    emit exact-integer Y-plane statistics per sampled frame — the
    driver-verifiable face of the real video decode path: matches
    ``expected_frame_stats`` (computed off the pre-encode arrays)
    only if the y4m encode→decode round-trip is lossless."""
    from raft_c_spark.functions.y4m import y4m_decode

    cols = [f.name for f in FRAME_STATS_SCHEMA.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                frames, (fnum, fden) = y4m_decode(bytes(payload))
                if len(frames) == 0:
                    continue  # zero-frame stream: nothing to sample
                for ts in range(0, max(int(dur or 0), 1), every_ms):
                    fi = min(len(frames) - 1, ts * fnum // (1000 * max(fden, 1)))
                    rows.append(_y_plane_stats(mid, fi, ts, frames[fi]))
            yield pd.DataFrame(rows, columns=cols)

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "payload", "duration_ms")
        .mapInPandas(kernel, FRAME_STATS_SCHEMA)
    )


def expected_frame_stats(
    n: int = 64, seed: int = 42, every_ms: int = 500
) -> list[dict]:
    """Ground-truth frame stats for ``synthetic_media(n, seed)``'s
    videos, computed directly from the PRE-ENCODE raw frame arrays —
    never touching the y4m codec, so comparing against
    ``frame_stats`` verifies the whole encode→decode round-trip.
    Pure Python+numpy (no Spark)."""
    out = []
    for i in range(n):
        if i % 3 != 2:
            continue  # not a video row
        dur = 1000 * (1 + i % 7)
        frames = synthetic_frames(i, seed, dur)
        for ts in range(0, max(dur, 1), every_ms):
            fi = min(len(frames) - 1, ts * VIDEO_FPS // 1000)
            out.append(_y_plane_stats(i, fi, ts, frames[fi]))
    return out


def synthetic_pixels(i: int, seed: int, w: int, h: int) -> "np.ndarray":
    """Raw (h, w, 3) uint8 pixel array for synthetic image ``i`` —
    the pre-encode ground truth that ``expected_decode_stats`` and
    the PNG payload both derive from."""
    rng = np.random.default_rng(seed * 1_000_003 + i)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def synthetic_pcm(
    i: int, seed: int, duration_ms: int, rate: int = 8000
) -> "np.ndarray":
    """Raw little-endian int16 PCM samples (seeded sine + harmonic)
    for synthetic audio ``i`` — the pre-encode ground truth."""
    freq = 110.0 * (1 + (seed + i) % 16)
    t = np.arange(int(rate * duration_ms / 1000)) / rate
    x = 0.7 * np.sin(2 * np.pi * freq * t) + 0.2 * np.sin(2 * np.pi * 3 * freq * t)
    return (x * 32767).astype("<i2")


#: synthetic video geometry: 32×24 @ 4fps keeps payloads small while
#: exercising real multi-frame decode
VIDEO_W, VIDEO_H, VIDEO_FPS = 32, 24, 4


def synthetic_frames(i: int, seed: int, duration_ms: int) -> "np.ndarray":
    """Raw (n_frames, h, w, 3) uint8 YCbCr frames for synthetic video
    ``i`` — the pre-encode ground truth."""
    n = max(1, duration_ms * VIDEO_FPS // 1000)
    rng = np.random.default_rng(seed * 1_000_003 + i)
    return rng.integers(
        0, 256, size=(n, VIDEO_H, VIDEO_W, 3), dtype=np.uint8
    )


def _synthetic_y4m(i: int, seed: int, duration_ms: int) -> bytes:
    """A real, decodable y4m video stream."""
    from raft_c_spark.functions.y4m import y4m_encode

    return y4m_encode(synthetic_frames(i, seed, duration_ms), fps=(VIDEO_FPS, 1))


def _synthetic_png(i: int, seed: int, w: int, h: int) -> bytes:
    """A real, decodable PNG: seeded-random RGB pixels."""
    from raft_c_spark.functions.png import png_encode

    return png_encode(synthetic_pixels(i, seed, w, h))


def _synthetic_wav(i: int, seed: int, duration_ms: int, rate: int = 8000) -> bytes:
    """A real, decodable 16-bit PCM WAV: a seeded sine + harmonic."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(synthetic_pcm(i, seed, duration_ms, rate).tobytes())
    return buf.getvalue()


def synthetic_media_rows(n: int = 64, seed: int = 42) -> list[dict]:
    """The deterministic synthetic corpus as plain dict rows — pure
    Python/numpy, shared by the parquet materializer and any
    oracle-side ground-truth builder."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        w = 64 + i % 32 if kind == "image" else None
        h = 48 + i % 24 if kind == "image" else None
        dur = 1000 * (1 + i % 7) if kind != "image" else None
        if kind == "image":
            payload = _synthetic_png(i, seed, w, h)
        elif kind == "audio":
            payload = _synthetic_wav(i, seed, dur)
        else:
            payload = _synthetic_y4m(i, seed, dur)
            w, h = VIDEO_W, VIDEO_H
        rows.append(
            {
                "media_id": i,
                "kind": kind,
                "payload": payload,
                "mime": {
                    "image": "image/png",
                    "audio": "audio/wav",
                    "video": "video/x-yuv4mpeg",
                }[kind],
                "width": w,
                "height": h,
                "duration_ms": dur,
            }
        )
    return rows


#: bump when the synthetic generators change — part of the cache key
MEDIA_CORPUS_VERSION = 1


def synthetic_media_path(n: int = 64, seed: int = 42) -> str:
    """Materialize the synthetic corpus as a parquet file (pure
    pyarrow, atomic publish into the repo-local cache) and return its
    path — built once per (n, seed), then every session just scans
    parquet. This is both the at-scale shape (media lives in object
    storage, not in a driver-constructed frame) and what keeps the
    table independent of session conf (a driver-side pandas hand-off
    needs Arrow enabled; a parquet scan works everywhere)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raft_c_spark.functions import diskcache

    def write(staging: str) -> None:
        table = pa.Table.from_pylist(
            synthetic_media_rows(n, seed),
            schema=pa.schema(
                [
                    ("media_id", pa.int64()),
                    ("kind", pa.string()),
                    ("payload", pa.binary()),
                    ("mime", pa.string()),
                    ("width", pa.int32()),
                    ("height", pa.int32()),
                    ("duration_ms", pa.int64()),
                ]
            ),
        )
        pq.write_table(table, staging)

    return diskcache.materialize(
        f"media_corpus_v{MEDIA_CORPUS_VERSION}_n{n}_s{seed}.parquet", write
    )


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for pipeline tests (the
    driver ships no media parquet). Image payloads are real PNGs,
    audio payloads real WAVs, and video payloads real y4m streams —
    the decoding operators genuinely decode all three for actual
    pixel/sample/frame statistics. Served as a parquet scan (see
    synthetic_media_path)."""
    return read_parquet(spark, synthetic_media_path(n, seed))


#: aHash chunk layout: 64 bits → 5 pigeonhole chunks (13+13+13+13+12).
#: Any pair at hamming ≤ 4 shares at least one identical chunk, so a
#: chunk equi-join finds every qualifying pair without all-pairs.
AHASH_CHUNKS = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]


def ahash64_from_pixels(px: "np.ndarray") -> int:
    """Integer-exact 64-bit average hash (aHash) of an (h, w, ch)
    uint8 array: integer grayscale (channel-sum // ch), 8×8 block
    integer means, bit = block mean STRICTLY above the global block
    mean. Every step is integer floor arithmetic, so the hash is
    bit-reproducible from the raw pixels in any engine/runtime — the
    property that lets the oracle verify the real-decode path against
    pre-encode ground truth. Returned as a SIGNED 64-bit value (bit
    63 wraps) so it round-trips through BIGINT columns."""
    gray = px.astype(np.int64).sum(axis=2) // px.shape[2]
    h, w = gray.shape
    re_ = (np.arange(9) * h) // 8
    ce_ = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8), dtype=np.int64)
    for r in range(8):
        for c in range(8):
            sub = gray[re_[r] : re_[r + 1], ce_[c] : ce_[c + 1]]
            blocks[r, c] = sub.sum() // sub.size
    mean = blocks.sum() // 64
    bits = 0
    for idx, v in enumerate(blocks.flatten()):
        if int(v) > int(mean):
            bits |= 1 << idx
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def ahash_chunks(ahash: int) -> list[int]:
    """The pigeonhole chunk values of a signed 64-bit aHash — computed
    on the unsigned view so the layout is shift-convention-independent
    (arithmetic vs logical >> never enters the contract)."""
    u = ahash & ((1 << 64) - 1)
    return [(u >> s) & ((1 << w) - 1) for s, w in AHASH_CHUNKS]


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual hash of every image row via the REAL decode path:
    PNG payload → pixels → ``ahash64_from_pixels``. One narrow
    mapInPandas kernel (payload bytes never shuffle); emits the hash
    plus its five pigeonhole chunk columns so pair generation is pure
    JVM joins downstream."""
    from raft_c_spark.functions.png import png_decode

    imgs = df.filter(F.col("kind") == "image").select("media_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                a = ahash64_from_pixels(png_decode(bytes(payload)))
                out.append((int(mid), a, *ahash_chunks(a)))
            yield pd.DataFrame(
                out, columns=["media_id", "ahash", "c0", "c1", "c2", "c3", "c4"]
            )

    return imgs.mapInPandas(
        kernel,
        "media_id long, ahash long, c0 int, c1 int, c2 int, c3 int, c4 int",
    )


def ahash_pairs(hashes: DataFrame, max_hamming: int = 4) -> DataFrame:
    """All image pairs (a < b) with aHash hamming distance ≤
    ``max_hamming`` — near-duplicate image detection, the visual dual
    of SimHash text dedup. Candidates come from a pigeonhole chunk
    equi-join (any pair at hamming ≤ 4 matches on ≥ 1 of the 5
    chunks — never all-pairs; at corpus scale candidate cost tracks
    per-chunk bucket density exactly like the SimHash path); verify
    is one integer ``bit_count(xor)``. All JVM column expressions
    after the decode kernel."""
    if max_hamming >= len(AHASH_CHUNKS):
        raise ValueError("max_hamming must be < number of chunks (5)")
    h = hashes.cache()
    melt = F.explode(
        F.array(*[
            F.struct(F.lit(j).alias("j"), F.col(f"c{j}").alias("v"))
            for j in range(5)
        ])
    )
    left = h.select(
        F.col("media_id").alias("a"), F.col("ahash").alias("ha"), melt.alias("kc")
    ).select("a", "ha", "kc.j", "kc.v")
    right = h.select(
        F.col("media_id").alias("b"), F.col("ahash").alias("hb"), melt.alias("kc")
    ).select("b", "hb", "kc.j", "kc.v")
    return (
        left.join(right, ["j", "v"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def audio_ahash64_from_pcm(pcm: "np.ndarray") -> int:
    """Integer-exact 64-bit energy hash of an int16 PCM array — the
    audio dual of ``ahash64_from_pixels``: 64 equal-span sample blocks
    (integer edges), block energy = mean |sample| under floor
    division, bit = block energy STRICTLY above the global mean of
    block energies. Pure integer arithmetic end to end, so the hash
    replays from the raw samples in any engine/runtime. Fewer than 64
    samples hashes to 0 (too short to fingerprint)."""
    x = np.abs(pcm.astype(np.int64))
    n = x.shape[0]
    if n < 64:
        return 0
    edges = (np.arange(65) * n) // 64
    blocks = np.empty(64, dtype=np.int64)
    for b in range(64):
        seg = x[edges[b] : edges[b + 1]]
        blocks[b] = seg.sum() // seg.size
    mean = blocks.sum() // 64
    bits = 0
    for idx, v in enumerate(blocks):
        if int(v) > int(mean):
            bits |= 1 << idx
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def audio_ahash(df: DataFrame) -> DataFrame:
    """Energy-profile fingerprint of every audio row via the REAL
    decode path: WAV payload → int16 samples → ``audio_ahash64_from_
    pcm``. Same narrow-kernel + chunk-column layout as image_ahash,
    so ``ahash_pairs`` serves both modalities unchanged."""
    import io
    import wave

    auds = df.filter(F.col("kind") == "audio").select("media_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
                    if wf.getsampwidth() != 2:
                        raise ValueError("only 16-bit PCM WAV supported")
                    pcm = np.frombuffer(
                        wf.readframes(wf.getnframes()), dtype=np.int16
                    )
                if len(pcm) < 64:
                    # too short to fingerprint: EXCLUDED from dedup —
                    # the 0-sentinel hash previously made every tiny
                    # clip an exact "duplicate" of every other one
                    # (N·(N−1)/2 false pairs at hamming 0)
                    continue
                a = audio_ahash64_from_pcm(pcm)
                out.append((int(mid), a, *ahash_chunks(a)))
            yield pd.DataFrame(
                out, columns=["media_id", "ahash", "c0", "c1", "c2", "c3", "c4"]
            )

    return auds.mapInPandas(
        kernel,
        "media_id long, ahash long, c0 int, c1 int, c2 int, c3 int, c4 int",
    )


def video_ahash64_from_frames(frames: "np.ndarray") -> int:
    """Integer-exact 64-bit hash of an (n, h, w, 3) uint8 frame
    stack: integer mean frame across time on the first (Y) plane —
    floor of the per-pixel frame sum — then the same 8×8 block aHash
    as images. Robust to small per-frame perturbations and frame
    drops (the temporal mean barely moves) while two different clips
    diverge on their spatial energy layout."""
    y = frames[:, :, :, 0].astype(np.int64)
    mean_frame = (y.sum(axis=0) // y.shape[0]).astype(np.int64)
    return ahash64_from_pixels(mean_frame[:, :, None])


def video_ahash(df: DataFrame) -> DataFrame:
    """Perceptual hash of every video row via the REAL y4m decode
    path — same chunk-column layout as image_ahash/audio_ahash, so
    ``ahash_pairs`` serves all three modalities."""
    from raft_c_spark.functions.y4m import y4m_decode

    vids = df.filter(F.col("kind") == "video").select("media_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames, _fps = y4m_decode(bytes(payload))
                if frames.shape[0] == 0:
                    # zero-frame stream: numpy's integer // 0 would
                    # yield an all-zero "hash" (same false-duplicate
                    # trap as short audio) — excluded instead
                    continue
                a = video_ahash64_from_frames(frames)
                out.append((int(mid), a, *ahash_chunks(a)))
            yield pd.DataFrame(
                out, columns=["media_id", "ahash", "c0", "c1", "c2", "c3", "c4"]
            )

    return vids.mapInPandas(
        kernel,
        "media_id long, ahash long, c0 int, c1 int, c2 int, c3 int, c4 int",
    )
