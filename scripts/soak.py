#!/usr/bin/env python
"""10x scaling soak: measure per-query runtime at two corpus scales
generated from the SAME process, and report the scaling ratio.

The driver's synthetic documents have a 31-word vocabulary, which
forces exact n-gram Jaccard onto its bitmap (all-pairs, O(n^2) by
design) branch and makes scaling exponents meaningless for the
100 TB question. This soak instead generates a Zipfian ~5000-word
corpus (realistic char-trigram space -> the prefix AllPairs path,
the branch a real corpus rides) with planted exact/near duplicates
at fixed RATES, at 5k and 50k docs, and times the scale-relevant
operators at both.

Usage: python scripts/soak.py [--small 5000] [--big 50000]
Writes parquet under <repo>/.soak/ and prints a markdown table for
SCALING.md. A 10x data ratio with near-linear cost shows ~10x time;
the quadratic baselines are expected and annotated as such.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

LANGS = [("en", 0.41), ("zh", 0.15), ("fr", 0.15), ("es", 0.15), ("de", 0.14)]


def gen_documents(n_docs: int, seed: int, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    # Zipfian vocabulary of random letter words (3-8 chars): char
    # trigram space is large, so ngram_jaccard auto-dispatches to the
    # prefix path like real text
    vocab_n = 5000
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, size=rng.integers(3, 9)))
        for _ in range(vocab_n)
    ]
    ranks = np.arange(1, vocab_n + 1, dtype=np.float64)
    probs = (1.0 / ranks) / (1.0 / ranks).sum()

    texts: list[str] = []
    for i in range(n_docs):
        ln = max(8, int(rng.normal(50, 15)))
        words = rng.choice(vocab_n, size=ln, p=probs)
        texts.append(" ".join(vocab[w] for w in words))
    # planted duplicates at fixed rates so output size scales
    # linearly with the corpus: 0.5% exact clones, 2% near clones
    # (~6% of words resampled -> Jaccard ~0.85 on trigrams)
    n_exact, n_near = int(n_docs * 0.005), int(n_docs * 0.02)
    clone_src = rng.choice(n_docs - n_exact - n_near, size=n_exact + n_near)
    for k in range(n_exact):
        texts[n_docs - 1 - k] = texts[clone_src[k]]
    for k in range(n_near):
        src = texts[clone_src[n_exact + k]].split()
        for j in rng.choice(len(src), size=max(1, len(src) // 16)):
            src[j] = vocab[rng.choice(vocab_n, p=probs)]
        texts[n_docs - 1 - n_exact - k] = " ".join(src)

    langs = rng.choice(
        [l for l, _ in LANGS], size=n_docs, p=[p for _, p in LANGS]
    )
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([str(x) for x in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # real row groups (8k rows): parquet row groups are the
    # indivisible read unit, so a single-row-group 88 MB file scans
    # in ONE task no matter how many byte-range splits Spark makes —
    # an earlier soak found every shuffle-free operator serialized on the
    # 500k corpus (winnow: linear kernel measuring 41x). Production
    # files have many groups/files; the soak data must too.
    pq.write_table(
        tbl, os.path.join(out_dir, "documents.parquet"), row_group_size=8192
    )


def gen_embeddings(n_vecs: int, seed: int, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1)
    m = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    n_near = int(n_vecs * 0.01)
    src = rng.choice(n_vecs - n_near, size=n_near)
    m[n_vecs - n_near :] = m[src] * 1.001
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array([v.tolist() for v in m], pa.list_(pa.float32())),
            "label": pa.array(
                rng.integers(0, 10, size=n_vecs).tolist(), pa.int32()
            ),
        }
    )
    pq.write_table(
        tbl, os.path.join(out_dir, "embeddings.parquet"), row_group_size=8192
    )


def gen_events(n_events: int, seed: int, out_dir: str) -> None:
    """Events table shaped like the driver's (µs tz-naive ts) so the
    streaming soak queries replay the registry plans unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 7)
    types = np.array(["click", "view", "purchase", "signup", "error"])
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    span_us = 14 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, size=n_events)) + base_us
    tbl = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(50, n_events // 50), size=n_events),
                pa.int64(),
            ),
            "event_type": pa.array(
                types[rng.integers(0, len(types), size=n_events)].tolist()
            ),
            "value": pa.array(
                np.round(rng.exponential(80.0, size=n_events), 2)
            ),
            "props": pa.array(['{"k":1}'] * n_events),
        }
    )
    pq.write_table(
        tbl, os.path.join(out_dir, "events.parquet"), row_group_size=8192
    )


def gen_media(n_docs: int, seed: int, out_dir: str) -> None:
    """Dup-planted media corpora (REAL PNG/WAV/y4m payloads, 2% near
    duplicates — every 50th row perturbs its predecessor inside the
    hamming-4 pigeonhole radius) sized ∝ the doc corpus so the mm
    dedup triple soaks at the same data ratio. Clips are kept short
    (0.5 s audio, ≤8 frames video): the soak measures the decode
    kernel + pair-join SCALING in row count, not payload girth."""
    import io
    import wave

    import pyarrow as pa
    import pyarrow.parquet as pq

    from raft_c_spark.functions.png import png_encode
    from raft_c_spark.functions.y4m import y4m_encode
    from raft_c_spark.operators.multimodal import (
        VIDEO_H,
        VIDEO_W,
        synthetic_pixels,
    )

    rng = np.random.default_rng(seed + 11)

    def _write(name, rows, schema):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=pa.schema(schema)),
            os.path.join(out_dir, name),
            row_group_size=2048,
        )

    # images: n//5 rows
    n_img = max(64, n_docs // 5)
    rows, prev = [], None
    for i in range(n_img):
        if i % 50 == 49 and prev is not None:
            px = prev.copy()
            px[::7, ::5] = np.clip(px[::7, ::5].astype(np.int32) + 3, 0, 255)
            px = px.astype(np.uint8)
        else:
            px = synthetic_pixels(i, seed, 64 + i % 32, 48 + i % 24)
        prev = px
        rows.append(
            {
                "media_id": i,
                "kind": "image",
                "payload": png_encode(px),
                "mime": "image/png",
                "width": int(px.shape[1]),
                "height": int(px.shape[0]),
            }
        )
    _write(
        "media_images.parquet",
        rows,
        [("media_id", pa.int64()), ("kind", pa.string()),
         ("payload", pa.binary()), ("mime", pa.string()),
         ("width", pa.int32()), ("height", pa.int32())],
    )

    # audio: n//5 clips of 0.5 s @ 8 kHz, 64-segment envelopes
    n_aud = max(64, n_docs // 5)
    rows, prev_pcm = [], None
    n_samp = 4000
    t = np.arange(n_samp) / 8000.0
    for i in range(n_aud):
        if i % 50 == 49 and prev_pcm is not None:
            pcm = prev_pcm.astype(np.int32).copy()
            pcm[::13] = np.clip(pcm[::13] + 700, -32768, 32767)
            pcm = pcm.astype(np.int16)
        else:
            env = np.repeat(
                rng.uniform(0.15, 1.0, size=64), (n_samp + 63) // 64
            )[:n_samp]
            freq = 110.0 * (1 + i % 16)
            pcm = (env * np.sin(2 * np.pi * freq * t) * 30000).astype(
                np.int16
            )
        prev_pcm = pcm
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(pcm.tobytes())
        rows.append(
            {
                "media_id": i,
                "kind": "audio",
                "payload": buf.getvalue(),
                "mime": "audio/wav",
                "duration_ms": 500,
            }
        )
    _write(
        "media_audio.parquet",
        rows,
        [("media_id", pa.int64()), ("kind", pa.string()),
         ("payload", pa.binary()), ("mime", pa.string()),
         ("duration_ms", pa.int32())],
    )

    # video: n//10 clips of 4-8 frames with static spatial pattern
    n_vid = max(32, n_docs // 10)
    rows, prev_fr = [], None
    for i in range(n_vid):
        if i % 50 == 49 and prev_fr is not None:
            fr = prev_fr.astype(np.int32).copy()
            fr[:, ::5, ::7, :] = np.clip(fr[:, ::5, ::7, :] + 3, 0, 255)
            fr = fr.astype(np.uint8)
        else:
            n_f = 4 + i % 5
            pattern = rng.integers(
                0, 256, size=(VIDEO_H, VIDEO_W, 3), dtype=np.int32
            )
            noise = rng.integers(-20, 21, size=(n_f, VIDEO_H, VIDEO_W, 3))
            fr = np.clip(pattern[None] + noise, 0, 255).astype(np.uint8)
        prev_fr = fr
        rows.append(
            {
                "media_id": i,
                "kind": "video",
                "payload": y4m_encode(fr),
                "mime": "video/x-yuv4mpeg",
                "duration_ms": int(fr.shape[0] * 250),
            }
        )
    _write(
        "media_video.parquet",
        rows,
        [("media_id", pa.int64()), ("kind", pa.string()),
         ("payload", pa.binary()), ("mime", pa.string()),
         ("duration_ms", pa.int32())],
    )


def _q_mm_image_dedup_soak(spark, sf_dir):
    from raft_c_spark.operators import multimodal as mm

    media = spark.read.parquet(os.path.join(sf_dir, "media_images.parquet"))
    return mm.ahash_pairs(mm.image_ahash(media), max_hamming=4)


def _q_mm_audio_dedup_soak(spark, sf_dir):
    from raft_c_spark.operators import multimodal as mm

    media = spark.read.parquet(os.path.join(sf_dir, "media_audio.parquet"))
    return mm.ahash_pairs(mm.audio_ahash(media), max_hamming=4)


def _q_mm_video_dedup_soak(spark, sf_dir):
    from raft_c_spark.operators import multimodal as mm

    media = spark.read.parquet(os.path.join(sf_dir, "media_video.parquet"))
    return mm.ahash_pairs(mm.video_ahash(media), max_hamming=4)


def _q_ngram_word(spark, sf_dir):
    """The 100 TB exact-Jaccard branch: word-gram shingles (large
    universe keeps the prefix filter selective). Char-gram exact
    Jaccard is inherently ~quadratic at scale (few-thousand-entry
    universe saturates every candidate join — both strategies
    measured super-linear) and is served by the bitmap branch /
    minhash instead. Threshold 0.6: the planted near-clones resample
    ~6% of words, which costs ~18% of word trigrams."""
    from raft_c_spark.operators import dedup
    from raft_c_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, unit="word",
    )


def _q_bloom_fixed_eval(spark, sf_dir):
    """Bloom decontamination in its production shape: a FIXED-size
    eval/benchmark set (5k docs) against the growing training corpus —
    the registry query's corpus-fraction eval split grows with the
    corpus and (correctly) trips the eval-side guard at 500k docs,
    because a benchmark set is not supposed to scale with the corpus.
    max_eval_bytes is raised explicitly because the guard's file-stat
    estimate cannot see the doc_id filter's selectivity; the actual
    eval side is a constant ~1 MB."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators import text
    from raft_c_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") < 5000)
    tr = docs.filter(F.col("doc_id") >= 5000)
    return text.bloom_decontaminate(
        tr, ev, "doc_id", "text", n=4, max_eval_bytes=256 << 20
    )


def _q_embedding_lsh_auto(spark, sf_dir):
    """Hyperplane LSH in its win region (high threshold, planted
    near-dups) with corpus-sized bits/tables — the registry query's
    fixed bits=4 / threshold=0.40 regime is near-quadratic by
    construction on random vectors."""
    from raft_c_spark.operators import similarity
    from raft_c_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_pairs(
        emb, "vec_id", "embedding", threshold=0.9, bits=None, tables=None
    )


def _q_bm25_soak(spark, sf_dir):
    """BM25 with terms drawn FROM the soak corpus (the registry
    query's fixed terms come from the driver's synthetic vocabulary
    and would match nothing here): the first doc's first distinct
    words are Zipf-head terms, so the matched-token stream is a
    realistic common-term fraction of the corpus. The pyarrow peek is
    one row group, milliseconds — charged to the query like every
    other construction cost."""
    import pyarrow.parquet as pq

    from raft_c_spark.operators.text import bm25_topk
    from raft_c_spark.sources.testdata import load_table

    first = (
        pq.ParquetFile(os.path.join(sf_dir, "documents.parquet"))
        .read_row_group(0, columns=["text"])["text"][0]
        .as_py()
    )
    terms: list[str] = []
    for w in first.split():
        if w not in terms:
            terms.append(w)
        if len(terms) == 4:
            break
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, terms, k=20)


# (ds_lang_kl_staged has no soak callable of its own: it is a
# registered query, so the registry resolves it by name)


#: (label, registry-name-or-callable, scaling expectation note)
SOAK_QUERIES = [
    ("dedup_exact_groups", None, "linear (one hash aggregate)"),
    ("ngram_jaccard_word", _q_ngram_word,
     "near-linear (word-gram prefix⋈prefix, candidates ~ dup rate)"),
    ("dedup_minhash_lsh", None, "near-linear (band bucket join ~ dup density)"),
    ("dedup_simhash", None, "near-linear (chunk-key equi-join)"),
    ("embedding_lsh_auto", _q_embedding_lsh_auto,
     "near-linear (auto-sized hyperplane buckets)"),
    ("dedup_components", None,
     "near-linear (LSH pair graph + min-label clustering; re-pointed"
     " off the quadratic exact-pair baseline)"),
    ("text_analyze", None, "linear (codegen column exprs)"),
    ("text_winnow", None, "linear (Arrow numpy kernel)"),
    ("text_tfidf_terms", None, "linear + top-k"),
    ("text_chunks", None, "linear, shuffle-free"),
    ("ds_pack_sequences", None, "linear (two-phase prefix sum)"),
    ("ds_mixture_sample", None, "linear, shuffle-free"),
    ("sim_topk_lsh", None, "probe-side ~constant, index build linear"),
    ("dedup_minhash_incr", None,
     "near-linear (batch-vs-corpus banded join ~ batch size)"),
    ("sim_knn_join_lsh", None,
     "probe ~ query batch x bucket occupancy; index build linear"),
    ("ds_shard_manifest", None, "linear (two-phase prefix rank)"),
    ("bloom_decontaminate_fixed_eval", _q_bloom_fixed_eval,
     "linear (bit-probe kernel at scan parallelism, no join; eval "
     "side fixed at 5k docs — the production shape)"),
    ("text_quality_model", None,
     "linear (one map-side-combined aggregate)"),
    ("ds_snapshot_diff", None, "linear (one co-locatable equi-join)"),
    ("ds_pipeline_e2e", None,
     "linear (five chained linear stages under one plan)"),
    ("dedup_best_survivor", None,
     "near-linear (banded pairs + components + one map-side-combined "
     "survivor aggregate — the per-component window is gone)"),
    ("text_lm_score", None,
     "near-linear (bigram stream + two map-side-combined count "
     "aggregates + natural-key joins; occurrences ~ tokens)"),
    ("sim_cluster_assign", None,
     "linear (map-only argmax over a k-element literal; k fixed)"),
    ("ds_temperature_mixture", None,
     "linear (one S-row count aggregate + broadcast-rate filter)"),
    ("dedup_containment", None,
     "near-linear (contained-side prefix probes ⋈ full index; "
     "word-5-gram df≈1 keeps candidates ~ dup rate)"),
    ("dedup_repeated_spans", None,
     "near-linear (skew-immune plan: map-side-combined 128-bit "
     "gram-hash aggregate + measured-cap broadcast join-back; "
     "occurrences ~ corpus chars)"),
    ("ds_dataset_card", None,
     "linear (one Expand ×4 + one map-side-combined aggregate)"),
    ("ds_epoch_upsample", None,
     "linear (S-row rate broadcast, map-only md5 fraction)"),
    ("ds_split_leakage_safe", None,
     "near-linear (shared MinHash pair graph + components + one "
     "broadcast of the S-row split bounds)"),
    ("mm_image_dedup", _q_mm_image_dedup_soak,
     "near-linear (decode kernel linear in rows; pigeonhole pair "
     "join ~ chunk-bucket density)"),
    ("mm_audio_dedup", _q_mm_audio_dedup_soak,
     "near-linear (same shape, WAV decode kernel)"),
    ("mm_video_dedup", _q_mm_video_dedup_soak,
     "near-linear (same shape, y4m decode kernel)"),
    ("stream_sliding_rate", None,
     "~linear in events (micro-batch replay; state ~ open windows × "
     "series, the ~1 s harness floor shows at the small scale)"),
    ("stream_session_window", None,
     "~linear in events (state = open sessions only; same harness "
     "floor caveat)"),
    ("ds_importance_dsir", None,
     "linear (two map-side-combined passes over the feature stream + "
     "a B-row broadcast; B fixed at 4096)"),
    ("ds_dsir_resample", None,
     "linear scan + TakeOrderedAndProject (per-partition k-heaps, "
     "k fixed at 100 — the merge never grows with the corpus)"),
    ("dedup_segments", None,
     "near-linear (map-side-combined min(struct) per distinct "
     "segment; kept-position lists rebuild text via ONE unique-key "
     "corpus join — no keep-test join, a 500k soak fix)"),
    ("text_gopher_rules", None,
     "linear (map-only codegen rules, zero shuffles)"),
    ("ds_contamination_overlap", None,
     "near-flat (per-doc gram dedup is map-side array_distinct; the "
     "only train shuffle is per-doc counts — a 500k soak fix)"),
    ("ds_ccnet_buckets", None,
     "near-linear (lm_score v3: two scan-bound parses, only the "
     "vocab-sized bits frame persists — a 500k soak fix)"),
    ("sim_knn_recall", None,
     "exact side linear in corpus (broadcast-queries Arrow kernel), "
     "approx side ~ bucket density; overlap join k·|Q| rows"),
    ("dedup_cut_spans", None,
     "the spans pipeline + one bounded-per-doc fold — same profile "
     "as dedup_repeated_spans"),
    ("ds_training_order", None,
     "linear (two-phase prefix rank over the md5 key; the P-row "
     "driver prefix is constant)"),
    ("text_bpe_tokens", None,
     "linear scan + vocabulary-sized work (train on the word-count "
     "table, encode the distinct-word frame in one Arrow kernel, "
     "broadcast join-back; the soak corpus vocabulary is fixed at "
     "5k words so the train/encode cost is flat across decades)"),
    ("ds_pack_bpe", None,
     "linear (the BPE counts frame + the same two-phase prefix sum "
     "as ds_pack_sequences)"),
    ("sim_knn_recall_tuned", None,
     "per rung: index build linear in corpus, probe ~ bucket "
     "density x query batch (batch fixed at 20); tuning cost = the "
     "ladder prefix sum, bounded by the chosen rung"),
    ("text_bm25_topk", _q_bm25_soak,
     "linear scan; shuffle = matched tokens only (|terms| ≪ vocab); "
     "df table ≤ |terms| rows broadcast; top-k via per-partition "
     "heaps (TakeOrderedAndProject)"),
    ("text_char_entropy", None,
     "linear in chars (the char-gram cost class); map-side combine "
     "collapses the explode to ≤ alphabet rows per doc per "
     "partition; no joins"),
    ("text_bpe_compression", None,
     "the shared BPE counts frame + one unique-key equi-join + an "
     "L-row aggregate"),
    ("dedup_impact_report", None,
     "the shared banded pair graph + components, then one unique-key "
     "equi-join and two shrinking aggregates (per-cluster, then "
     "per-size) — the added stages cannot dominate pair generation"),
    ("text_collocations", None,
     "linear scan + two vocab-shaped count aggregates; the min_count "
     "filter bounds the joined pair frame; top-k via per-partition "
     "heaps (the 5k-word soak vocabulary keeps pair cardinality "
     "~vocab-bounded across decades, as a real corpus's Zipf head "
     "does)"),
    ("ev_transition_matrix", None,
     "linear (one per-user lag window over events; pair counts "
     "collapse map-side to ≤ |states|² rows; totals join broadcast)"),
    ("ts_delta_rate", None,
     "linear scan + ONE map-side-combined (series, bucket) struct "
     "min/max aggregate; shuffle volume is buckets, not points"),
    ("ds_lang_kl", None,
     "linear scan x2 (the (lang,word) and word aggregates each have "
     "ONE consumer) + two cheap no-explode length aggregates; the "
     "join is vocab-shaped, output L rows"),
    ("ds_ccnet_buckets_approx", None,
     "the shared lm-score plan + one GK-sketch aggregate (bounded "
     "memory per lang) + the L-row broadcast certification counts"),
    ("text_vocab_growth", None,
     "linear scan + one (group, word) aggregate collapsing to the "
     "per-group vocabulary (Zipf-bounded) + no-explode totals; "
     "output G rows"),
    ("text_novelty", None,
     "linear scan; per-doc distinct grams die map-side; ONE min-doc "
     "aggregate on 16 B hashes + a natural-key join-back + per-doc "
     "combine — corpus-vocabulary-sized frames, no broadcast cap"),
    ("ev_attribution_models", None,
     "two user-keyed windows (bounded per-key state — the sessionize "
     "class) + a map-side 4-row credit stack collapsing to ≤ "
     "4·|types| rows"),
    ("text_compression", None,
     "linear in corpus bytes (one narrow Arrow DEFLATE kernel at "
     "scan parallelism; text dies inside the kernel batch — no "
     "shuffle, no join, no state)"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=5000)
    ap.add_argument("--big", type=int, default=50000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated soak labels to run (default: all)",
    )
    args = ap.parse_args()

    # generation is demand-driven by the selected queries: a 1.5M-doc
    # decade must not pay for 300k PNG payloads (or 600k embeddings)
    # that no selected query reads. With no --only filter everything
    # generates, as before.
    sel = (
        {x.strip() for x in args.only.split(",")}
        if args.only
        else {q[0] for q in SOAK_QUERIES}
    )
    need_media = any(s.startswith("mm_") for s in sel)
    need_events = any(s.startswith(("ev_", "stream_")) for s in sel)
    need_emb = any(s.startswith("sim_") or "embedding" in s for s in sel)

    scales = {"small": args.small, "big": args.big}
    dirs = {}
    for name, n in scales.items():
        d = os.path.join(REPO, ".soak", f"docs{n}")
        os.makedirs(d, exist_ok=True)
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            gen_documents(n, args.seed, d)
        if need_emb and not os.path.exists(
            os.path.join(d, "embeddings.parquet")
        ):
            gen_embeddings(max(200, n * 2 // 5), args.seed, d)
        if need_events and not os.path.exists(
            os.path.join(d, "events.parquet")
        ):
            gen_events(n * 4, args.seed, d)
        if need_media and not os.path.exists(
            os.path.join(d, "media_images.parquet")
        ):
            gen_media(n, args.seed, d)
        dirs[name] = d

    from raft_c_spark.plans.registry import all_queries
    from raft_c_spark.session import get_spark

    spark = get_spark(app_name="soak")
    # the soak corpora are single parquet files; without a smaller
    # split size one file = one input split and every ratio silently
    # measures parallelism loss instead of the algorithm
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    spark.range(8).mapInPandas(lambda it: it, "id long").count()
    qs = all_queries()
    soak_queries = SOAK_QUERIES
    if args.only:
        keep = {x.strip() for x in args.only.split(",")}
        soak_queries = [q for q in SOAK_QUERIES if q[0] in keep]
        missing = keep - {q[0] for q in soak_queries}
        if missing:
            raise SystemExit(f"unknown soak labels: {sorted(missing)}")

    # per-scale calibration: the same CPU-bound probe bench.py uses,
    # sampled before/after each scale's window and medianed — a bench
    # A/B measured 1.8x same-box same-hour swings on a single-sample
    # probe, so cross-window ratios are only box-independent when each
    # window carries its own calib
    from pyspark.sql import functions as _F

    def calib_probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).agg(
            _F.sum(_F.pmod(_F.xxhash64("id"), _F.lit(1_000_000)))
        ).collect()
        return time.perf_counter() - t0

    calib_probe()  # JIT warmup, discarded

    # the soak measures the ALGORITHM's scaling, so every timed pass
    # must rebuild derived state from scratch: point the diskcache at
    # a soak-private dir and wipe it before each pass — otherwise the
    # pair-level caches turn pass 2 (and, across soak runs,
    # pass 1 too) into a parquet read of the previous run's pair
    # frame and the ratio measures cache-read scaling instead (this
    # run's first attempt measured simhash at 150k at 0.34s vs the 6.15s
    # true build). Spark-cache state is cleared per pass for the same
    # reason.
    import shutil

    soak_cache = os.path.join(REPO, ".soak", "cache")
    os.environ["RAFT_C_SPARK_CACHE_DIR"] = soak_cache

    def wipe_derived_state() -> None:
        shutil.rmtree(soak_cache, ignore_errors=True)
        try:
            spark.catalog.clearCache()
        except Exception:
            pass

    # INTERLEAVED measurement: each query is timed at BOTH scales
    # back-to-back, bracketed by calib probes. A first attempt ran
    # scale-major (all-small then all-big) and the box drifted 2.6x
    # between the windows (small-window calib median 0.827s vs big
    # 0.316s) — several queries measured *faster* at 3.3x the data,
    # i.e. the window layout, not the algorithm, dominated the ratio.
    # Adjacent small/big runs of the same query share an epoch, so the
    # raw ratio is epoch-clean; the per-calib column divides out
    # whatever residual drift the bracketing probes saw.
    results: dict[str, dict[str, float]] = {}
    qcalibs: dict[str, dict[str, float]] = {}
    drift: list[float] = []

    def timed(call, sf_dir: str) -> float:
        best = None
        for _ in range(args.passes):
            wipe_derived_state()
            t0 = time.perf_counter()
            df = call(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    for label, fn, _ in soak_queries:
        call = fn if fn is not None else qs[label]
        c1 = calib_probe()
        results.setdefault(label, {})["small"] = timed(call, dirs["small"])
        c2 = calib_probe()
        results[label]["big"] = timed(call, dirs["big"])
        c3 = calib_probe()
        # epoch calib for each scale = the two probes bracketing it
        qcalibs[label] = {"small": (c1 + c2) / 2, "big": (c2 + c3) / 2}
        drift.extend([c1, c2, c3])
        print(
            f"[{label}] small {results[label]['small']:.2f}s, "
            f"big {results[label]['big']:.2f}s "
            f"(calibs {c1:.2f}/{c2:.2f}/{c3:.2f})",
            flush=True,
        )

    ratio_data = scales["big"] / scales["small"]
    print(f"\ncalib drift across the run: min {min(drift):.3f}s, "
          f"median {sorted(drift)[len(drift) // 2]:.3f}s, "
          f"max {max(drift):.3f}s over {len(drift)} probes "
          f"(interleaved layout keeps each ratio within one epoch)")
    print(f"\n| query | {scales['small']} docs (s) | {scales['big']} docs (s) "
          f"| ratio (data {ratio_data:.0f}x) | per-calib ratio | expectation |")
    print("|---|---|---|---|---|---|")
    for label, _, note in soak_queries:
        s, b = results[label]["small"], results[label]["big"]
        raw = b / max(s, 1e-9)
        cal = qcalibs[label]
        norm = (b / max(cal["big"], 1e-9)) / max(s / max(cal["small"], 1e-9), 1e-9)
        print(f"| {label} | {s:.2f} | {b:.2f} | {raw:.1f}x "
              f"| {norm:.1f}x | {note} |")
    spark.stop()


if __name__ == "__main__":
    main()
