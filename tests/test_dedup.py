"""Dedup operator quality tests: the hash-based scale paths (MinHash
LSH, SimHash) are verified against the exact n-gram Jaccard baseline;
exact dedup on planted duplicates; substring spans and segment dedup
against pure-python replays; n-gram containment pairs against a
naive all-pairs fold."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from raft_c_spark.operators import dedup
from raft_c_spark.sources.testdata import load_table
from tests.harness import spark_property


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def _pairs(df):
    return {(r["a"], r["b"]) for r in df.collect()}


def test_exact_dedup_planted(spark):
    rows = [
        (1, "The quick brown fox"),
        (2, "the  quick   brown fox"),  # same after normalization
        (3, "something else entirely"),
        (4, "The Quick Brown Fox"),  # case-insensitive dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 3
    assert groups[0]["keep_id"] == 1
    kept = dedup.dedup_exact(df, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_minhash_recall_vs_exact(docs):
    """LSH candidates at est≥0.7 must recover ≥90% of true ≥0.8
    Jaccard pairs (16 bands × 4 rows: collision prob ≈ 1.0 at j=0.8)."""
    truth = _pairs(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    )
    assert truth, "fixture should contain planted near-dup pairs"
    found = _pairs(
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.7)
    )
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall:.2f} over {len(truth)} pairs"


def test_minhash_signature_shape(docs):
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_perm=32)
    row = sig.limit(1).collect()[0]
    assert len(row["signature"]) == 32
    assert sig.count() == docs.count()


def test_simhash_fingerprint_proximity(docs, spark):
    """Near-identical docs (jaccard ≥ 0.9) sit within small hamming
    distance of each other — measured on raw fingerprints, no
    candidate blocking, so this pins the idf-WEIGHTED fingerprint
    quality alone (the driver corpus's 31-word vocabulary is
    adversarial for simhash: weights spread a few true pairs into the
    h>10 tail, which is the price of the ~2000× background-density
    collapse the weighting buys — see SIMHASH_WEIGHT_CAP)."""
    from pyspark.sql import functions as F

    truth = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.9
    ).select("a", "b")
    n_truth = truth.count()
    if not n_truth:
        pytest.skip("no ≥0.9 pairs at this sf")
    sig = dedup.simhash60(docs, "doc_id", "text")
    sa = sig.withColumnRenamed("doc", "a").withColumnRenamed("simhash", "ha")
    sb = sig.withColumnRenamed("doc", "b").withColumnRenamed("simhash", "hb")
    within = (
        truth.join(sa, "a")
        .join(sb, "b")
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 10)
        .count()
    )
    recall = within / n_truth
    assert recall >= 0.8, f"simhash@10 recall {recall:.2f} over {n_truth} pairs"


def test_simhash_blocking_guarantee(docs):
    """Pigeonhole invariant: any pair within hamming ≤ 3 shares at
    least one of the 4 × 15-bit chunks, so simhash_pairs at
    max_hamming=3 must equal the exact fingerprint-distance answer —
    the blocking is lossless in the guaranteed region."""
    from pyspark.sql import functions as F

    sig = dedup.simhash60(docs, "doc_id", "text").cache()
    sa = sig.withColumnRenamed("doc", "a").withColumnRenamed("simhash", "ha")
    sb = sig.withColumnRenamed("doc", "b").withColumnRenamed("simhash", "hb")
    exact = {
        (r["a"], r["b"])
        for r in sa.crossJoin(sb)
        .filter(F.col("a") < F.col("b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
        .collect()
    }
    found = _pairs(dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3))
    assert found == exact
    sig.unpersist()


def test_simhash_background_separation(spark):
    """The reason the votes are idf-weighted: on a realistic Zipfian
    corpus (5k-word vocab — the soak generator's shape) planted
    near-clones (~6% of words resampled) must be found through the
    full blocked pipeline at h ≤ 10 with ≥0.8 recall, while random
    doc pairs sit far apart (zero pairs at h ≤ 6 among 500 random
    pairs at this size; unweighted votes measured ~0.4% background at
    h ≤ 6 and 0.23% at the 500k soak — quadratic output)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, size=rng.integers(3, 9)))
        for _ in range(5000)
    ]
    ranks = np.arange(1, 5001, dtype=np.float64)
    probs = (1.0 / ranks) / (1.0 / ranks).sum()
    texts = [
        " ".join(
            vocab[w]
            for w in rng.choice(5000, size=max(8, int(rng.normal(50, 15))), p=probs)
        )
        for _ in range(1500)
    ]
    planted = []
    for k in range(40):  # near-clones of the first 40 docs (1-2 words
        # resampled → trigram Jaccard ≳ 0.9, the operator's contract)
        src = texts[k].split()
        for j in rng.choice(len(src), size=max(1, len(src) // 32)):
            src[j] = vocab[rng.choice(5000, p=probs)]
        planted.append((1500 + k, k))
        texts.append(" ".join(src))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).cache()
    found = _pairs(dedup.simhash_pairs(df, "doc_id", "text", max_hamming=10))
    hits = sum(1 for a, b in planted if (b, a) in found or (a, b) in found)
    assert hits / len(planted) >= 0.8, f"planted recall {hits}/{len(planted)}"
    # background: consecutive unrelated docs as pseudo-random pairs
    sig = dedup.simhash60(df.filter(F.col("doc_id") < 1500), "doc_id", "text")
    sa = sig.withColumnRenamed("doc", "a").withColumnRenamed("simhash", "ha")
    sb = sig.withColumnRenamed("doc", "b").withColumnRenamed("simhash", "hb")
    bg_close = (
        sa.join(sb, F.col("b") == F.col("a") + 500)
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 6)
        .count()
    )
    assert bg_close == 0, f"{bg_close} background pairs within hamming 6"
    df.unpersist()


def test_simhash_deterministic(docs):
    a = {r["doc"]: r["simhash"] for r in dedup.simhash60(docs, "doc_id", "text").collect()}
    b = {r["doc"]: r["simhash"] for r in dedup.simhash60(docs, "doc_id", "text").collect()}
    assert a == b


def _reference_pairs(docs, threshold, n=3, unit="char"):
    """The plain shingle equi-join verifier over the same shingles."""
    sh = dedup._shingles(docs, "doc_id", "text", n, unit, None)
    return dedup._jaccard_join(sh, threshold)


@pytest.mark.parametrize("threshold", [0.8, 0.5])
def test_exact_strategies_agree(docs, threshold, monkeypatch):
    """Both exact physical strategies (Arrow-kernel bitmap NLJ, which
    the low-vocabulary corpus takes, and prefix-filter candidates,
    forced by a zero vocabulary cap) must return the pair set of the
    plain shingle equi-join — completeness proof of the bitmap packing
    and the prefix filter on real data, at a high and a low threshold
    (longer prefixes, denser candidates — the regime where an
    off-by-one in the prefix length would show)."""
    ref = _pairs(_reference_pairs(docs, threshold))
    bitmap = _pairs(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=threshold)
    )
    monkeypatch.setattr(dedup, "_MAX_BITMAP_SHINGLES", 0)
    prefix = _pairs(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=threshold)
    )
    assert bitmap == ref
    assert prefix == ref


def test_auto_strategy_dispatch(docs, monkeypatch):
    """The vocabulary probe picks bitmap on the low-vocab corpus; a
    tiny cap sends the same call to the prefix path; both remain
    exact."""
    calls = []
    for name in ("_jaccard_bitmap", "_jaccard_prefix"):
        real = getattr(dedup, name)
        monkeypatch.setattr(
            dedup, name,
            lambda *a, _n=name, _f=real: calls.append(_n) or _f(*a),
        )
    auto = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    monkeypatch.setattr(dedup, "_MAX_BITMAP_SHINGLES", 10)
    forced_prefix = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8
    )
    assert calls == ["_jaccard_bitmap", "_jaccard_prefix"]
    assert _pairs(auto) == _pairs(forced_prefix)


def test_word_unit_prefix_matches_join(docs):
    """Word-gram shingles (the corpus-dedup standard unit) take the
    prefix-filter path, which must agree exactly with the plain
    equi-join verifier."""
    got = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, unit="word",
        ).collect()
    }
    want = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in _reference_pairs(docs, 0.5, unit="word").collect()
    }
    assert got == want
    assert want, "threshold too high: empty result is vacuous"


def test_minhash_between_matches_cross_subset_of_self_join(docs):
    """Incremental dedup (new batch vs standing corpus) must find
    exactly the cross-split subset of the full self-join's pairs."""
    full = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    cross = {
        (min(r["a"], r["b"]), max(r["a"], r["b"]), round(r["est_jaccard"], 9))
        for r in full.collect()
        if r["a"] % 2 != r["b"] % 2
    }
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    got = {
        (min(r["a"], r["b"]), max(r["a"], r["b"]), round(r["est_jaccard"], 9))
        for r in dedup.minhash_lsh_pairs_between(
            new, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got == cross
    assert got, "no cross-split pairs: the test corpus made this vacuous"


def test_minhash_between_pair_cache_roundtrip(docs, tmp_path, monkeypatch):
    """pair_cache_key persists the verified between-pair frame: the
    warm call must read the published parquet (not recompute) and
    return identical pairs."""
    import os

    monkeypatch.setenv("RAFT_C_SPARK_CACHE_DIR", str(tmp_path))
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    kw = dict(threshold=0.5, pair_cache_key="testsplit")
    cold = {
        (r["a"], r["b"], round(r["est_jaccard"], 9))
        for r in dedup.minhash_lsh_pairs_between(
            new, corpus, "doc_id", "text", **kw
        ).collect()
    }
    published = [p for p in os.listdir(tmp_path) if p.startswith("minhashpairsbtw_")]
    assert len(published) == 1, published
    warm_df = dedup.minhash_lsh_pairs_between(new, corpus, "doc_id", "text", **kw)
    # warm plan must be a pure parquet scan of the published entry
    files = warm_df.inputFiles()
    assert files and all(str(tmp_path) in f for f in files), files
    warm = {
        (r["a"], r["b"], round(r["est_jaccard"], 9)) for r in warm_df.collect()
    }
    assert warm == cold
    assert cold, "no cross-split pairs: cache roundtrip test is vacuous"


def test_word_shingles_short_docs(spark):
    """Docs shorter than n words yield zero shingles (sequence(1, 0)
    descends in Spark — the guard must filter, not emit junk)."""
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three words here"), (4, " ")],
        "doc_id long, text string",
    )
    rows = dedup.word_shingles(df, "doc_id", "text", n=3).collect()
    assert {r["doc"] for r in rows} == {3}
    assert [r["shingle"] for r in rows] == ["three words here"]


def test_embedding_neardup_planted(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    clone = spark.createDataFrame(
        [(90001, [v * 1.001 for v in base], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = dedup.embedding_neardup_pairs(
        emb.unionByName(clone), "vec_id", "embedding", threshold=0.99
    ).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(7, 90001)}


def test_embedding_neardup_blocked_matches_broadcast(spark, sf_dir, monkeypatch):
    """The above-cap blocked block-pair path must return exactly the
    under-cap broadcast-kernel result (same fp accumulation order),
    and its plan must contain no CartesianProduct."""
    from raft_c_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 120
    )
    want = {
        (r["a"], r["b"], r["cosine"])
        for r in dedup.embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.2
        ).collect()
    }
    assert want, "threshold too high: empty baseline makes the test vacuous"
    monkeypatch.setattr(similarity, "_VERIFY_BROADCAST_BYTES", 1)
    blocked = dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.2
    )
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan, plan
    got = {(r["a"], r["b"], r["cosine"]) for r in blocked.collect()}
    assert got == want


def test_repeated_substring_spans_semantics(spark):
    """Planted 61-char shared substring across two docs → one maximal
    span each at the right offsets; a unique doc gets none; a doc
    repeating a substring WITHIN itself is flagged too."""
    shared = "the quick brown fox jumps over the lazy sleeping dog tonight"
    rows = [
        (1, "x" * 10 + shared + "y" * 10),
        (2, "abc " + shared + " def"),
        (3, "nothing shared here at all with anyone else in this corpus"),
        (4, "Z" * 45 + " filler " + "Z" * 45),  # self-repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.repeated_substring_spans(df, "doc_id", "text", min_len=40)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    # doc 1: shared sits at 1-based offset 11, length 61
    assert spans[1] == [(11, 11 + len(shared))]
    assert spans[2] == [(5, 5 + len(shared))]
    assert 3 not in spans
    # doc 4: both Z-runs repeat (45-char run contains repeated
    # 40-grams); lowercased text is 98 chars with spans at each end
    assert len(spans[4]) >= 1


def _brute_spans(texts: dict[int, str], L: int) -> dict[int, list]:
    """Reference implementation of ExactSubstr spans: corpus-wide
    L-gram counts over the normalized text, maximal merged intervals
    of positions whose gram occurs >= 2 times anywhere."""
    import re

    norm = {
        d: re.sub(r"\s+", " ", t).strip().lower() for d, t in texts.items()
    }
    counts: Counter = Counter()
    for t in norm.values():
        for i in range(len(t) - L + 1):
            counts[t[i : i + L]] += 1
    out: dict[int, list] = {}
    for d, t in norm.items():
        hits = [
            i + 1
            for i in range(len(t) - L + 1)
            if counts[t[i : i + L]] >= 2
        ]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + L)
                spans[-1][2] += 1
            else:
                spans.append([p, p + L, 1])
        if spans:
            out[d] = [tuple(s) for s in spans]
    return out


@spark_property()
@given(
    st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=120),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_repeated_spans_match_bruteforce(spark, texts, clone_at):
    """Random small-alphabet corpora (collision-rich) with one planted
    clone: Spark spans == the pure-python replay exactly."""
    if clone_at < len(texts) and len(texts) >= 2:
        texts = list(texts)
        texts[clone_at] = texts[0]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, list] = {}
    for r in dedup.repeated_substring_spans(
        df, "doc_id", "text", min_len=12
    ).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_grams"])
        )
    got = {d: sorted(v) for d, v in got.items()}
    want = {
        d: sorted(v)
        for d, v in _brute_spans(dict(rows), 12).items()
    }
    assert got == want


def test_minhash_above_cap_matches_broadcast(spark, sf_dir, monkeypatch):
    """Forcing the signature-broadcast cap to 0 must route the
    est-jaccard verify through the joined Arrow kernel and return the
    broadcast kernel's exact rows (integer equality counts — no fp
    concerns, but the candidate set and threshold must agree)."""
    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r["a"], r["b"], r["est_jaccard"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=64, bands=8, threshold=0.8
        ).collect()
    }
    assert want, "no pairs at threshold: test is vacuous"
    monkeypatch.setattr(dedup, "_BROADCAST_MAX_SIG_ROWS", 0)
    got = {
        (r["a"], r["b"], r["est_jaccard"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=64, bands=8, threshold=0.8
        ).collect()
    }
    assert got == want


def test_minhash_between_above_cap_matches_broadcast(spark, sf_dir, monkeypatch):
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corp = docs.filter(F.col("doc_id") % 2 == 0)

    def run():
        return {
            (r["a"], r["b"], r["est_jaccard"])
            for r in dedup.minhash_lsh_pairs_between(
                new, corp, "doc_id", "text", n=3, num_perm=64, bands=8,
                threshold=0.8,
            ).collect()
        }

    want = run()
    assert want, "no cross pairs at threshold: test is vacuous"
    monkeypatch.setattr(dedup, "_BROADCAST_MAX_SIG_ROWS", 0)
    assert run() == want


def test_lsh_bucketed_pairs_above_cap_matches_broadcast(
    spark, sf_dir, monkeypatch
):
    """The above-cap cosine verify (equi-joins + Arrow kernel) must be
    bit-identical to the broadcast numpy kernel — same dimension-at-a-
    time float64 accumulation order."""
    from raft_c_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")

    def run():
        return {
            (r["a"], r["b"], r["cosine"])
            for r in similarity.lsh_bucketed_pairs(
                emb, "vec_id", "embedding", threshold=0.40, bits=4, tables=12
            ).collect()
        }

    want = run()
    assert want, "no pairs at threshold: test is vacuous"
    monkeypatch.setattr(similarity, "_VERIFY_BROADCAST_BYTES", 1)
    assert run() == want


def test_simhash_more_chunks_complete_superset(spark, docs):
    """The blocking contract: n_chunks=10 guarantees completeness for
    hamming <= 9, so at max_hamming=8 its pair set must contain every
    pair the default 4-chunk blocking (complete only to hamming 3)
    surfaces — and equal the exhaustive hamming scan."""
    p4 = _pairs(
        dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8)
    )
    p10 = _pairs(
        dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=8, n_chunks=10
        )
    )
    assert p4 <= p10
    sig = dedup.simhash60(docs, "doc_id", "text").cache()
    sa = sig.select(F.col("doc").alias("a"), F.col("simhash").alias("ha"))
    sb = sig.select(F.col("doc").alias("b"), F.col("simhash").alias("hb"))
    exact = {
        (r["a"], r["b"])
        for r in sa.crossJoin(sb)
        .filter(F.col("a") < F.col("b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 8)
        .collect()
    }
    assert p10 == exact
    sig.unpersist()


def test_ascii_ws_normalization_matches_sql(spark):
    """The kernels' Python normalization must agree with the SQL
    lower(trim(regexp_replace(text, '\\s+', ' '))) on NON-ASCII
    whitespace (U+00A0 is data to Java/RE2 \\s — str.split() once
    collapsed it and the kernels diverged from their own
    oracles)."""
    from raft_c_spark.functions.norm import norm_ascii_ws

    raw = "A B  \t C　D "
    spark_norm = spark.sql(
        "SELECT lower(trim(regexp_replace('" + raw + r"', '\\s+', ' '))) AS n"
    ).first()["n"]
    assert norm_ascii_ws(raw) == spark_norm
    assert " " in spark_norm and "　" in spark_norm


class TestSegmentDedup:
    def _input(self, spark):
        return spark.createDataFrame(
            [
                (1, "a b c d e f"),
                (2, "a b c x y z"),
                (3, ""),
                (4, "x y z a b c"),
                (5, "q r"),  # short doc: one partial segment
            ],
            "doc_id long, text string",
        )

    def test_first_occurrence_semantics(self, spark):
        from raft_c_spark.operators.dedup import segment_dedup

        out = {
            r["doc_id"]: r
            for r in segment_dedup(
                self._input(spark), "doc_id", "text", seg_tokens=3
            ).collect()
        }
        # doc1 owns both its segments; doc2's "a b c" is doc1's
        assert out[1]["clean_text"] == "a b c d e f"
        assert out[2]["clean_text"] == "x y z"
        assert (out[2]["n_segments"], out[2]["n_kept"]) == (2, 1)
        # empty doc passes through with zero segments
        assert out[3]["clean_text"] == "" and out[3]["n_segments"] == 0
        # doc4 is fully covered by earlier segments → empty
        assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0
        # trailing partial segment is a real segment
        assert out[5]["clean_text"] == "q r" and out[5]["n_segments"] == 1
        assert set(out) == {1, 2, 3, 4, 5}

    def test_partitioning_invariant(self, spark):
        """First-occurrence is a total order on (doc, pos) — the
        result must not depend on physical partitioning."""
        from raft_c_spark.operators.dedup import segment_dedup

        base = self._input(spark)
        a = sorted(
            map(
                tuple,
                segment_dedup(base, "doc_id", "text", 3).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                segment_dedup(
                    base.repartition(7), "doc_id", "text", 3
                ).collect(),
            )
        )
        assert a == b

    def test_rejects_bad_seg_tokens(self, spark):
        from raft_c_spark.operators.dedup import segment_dedup

        with pytest.raises(ValueError):
            segment_dedup(self._input(spark), "doc_id", "text", 0)


def _brute_segment_dedup(texts: list[str], k: int):
    """Reference replay: first corpus-wide occurrence per distinct
    k-word segment, ordered by (doc, pos)."""
    seen: set[str] = set()
    out = {}
    for doc, t in enumerate(texts):
        toks = t.split()
        segs = [
            " ".join(toks[i : i + k]) for i in range(0, len(toks), k)
        ]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[doc] = (len(segs), len(kept), " ".join(kept))
    return out


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(1, 4),
)
@spark_property()
def test_segment_dedup_matches_brute_force(spark, texts, k):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_kept"], r["clean_text"])
        for r in dedup.segment_dedup(df, "doc_id", "text", k).collect()
    }
    assert got == _brute_segment_dedup(texts, k)


class TestCutRepeatedSpans:
    def test_cut_and_passthrough(self, spark):
        from raft_c_spark.operators.dedup import cut_repeated_spans

        boiler = "b" * 50
        df = spark.createDataFrame(
            [
                (1, f"aaa {boiler} zzz"),
                (2, f"ccc {boiler} ddd"),
                (3, "short unique"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in cut_repeated_spans(
                df, "doc_id", "text", min_len=40
            ).collect()
        }
        # the shared boilerplate (plus flanking spaces inside the
        # repeated 40-grams) is cut from BOTH docs; unique flanks stay
        assert out[1]["clean_text"] == "aaazzz"
        assert out[2]["clean_text"] == "cccddd"
        assert out[1]["n_spans"] == 1 and out[1]["n_chars_removed"] == 52
        # no repeated spans → normalized text passes through intact
        assert out[3]["clean_text"] == "short unique"
        assert out[3]["n_spans"] == 0 and out[3]["n_chars_removed"] == 0

    def test_stitch_consistent_with_spans(self, spark, sf_dir):
        """clean length == normalized length − Σ(span_end−span_start)
        for every document of the real corpus."""
        from pyspark.sql import functions as F

        from raft_c_spark.operators.dedup import cut_repeated_spans
        from raft_c_spark.sources.testdata import load_table

        docs = load_table(spark, sf_dir, "documents")
        norm_len = docs.select(
            "doc_id",
            F.length(
                F.lower(
                    F.trim(F.regexp_replace("text", r"\s+", " "))
                )
            ).alias("nlen"),
        )
        out = cut_repeated_spans(docs, "doc_id", "text").join(
            norm_len, ["doc_id"]
        )
        bad = out.filter(
            F.length("clean_text")
            != F.col("nlen") - F.col("n_chars_removed")
        ).count()
        assert bad == 0


def test_spans_bloom_fallback_exact(spark, monkeypatch):
    """Force the over-cap join-back path (cap -> 0) and assert the
    bloom-prefiltered fallback returns EXACTLY the broadcast path's
    spans — false positives must die in the exact equi-join (a catch
    of the 500k→1.5M-doc soak)."""
    from raft_c_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    want = sorted(
        map(tuple, dedup.repeated_substring_spans(
            docs, "doc_id", "text", min_len=20
        ).collect())
    )
    assert want, "fixture must produce spans for the test to mean anything"
    monkeypatch.setattr(dedup, "_BROADCAST_MAX_BANDED_ROWS", 0)
    got = sorted(
        map(tuple, dedup.repeated_substring_spans(
            docs, "doc_id", "text", min_len=20
        ).collect())
    )
    assert got == want


def test_dedup_exact_bloom_fallback_exact(spark, monkeypatch):
    """Force dedup_exact's over-cap join-back (cap -> 0) and assert
    the composite (content-key, id) bloom fallback keeps EXACTLY the
    broadcast path's survivors — false positives and composite-hash
    collisions must die in the exact id == keep filter (the keep-test is sparse on the composite even though the
    equi-join key alone is dense)."""
    from raft_c_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(300)
    # salt in real duplicates so the prefilter has rows to shed
    dup = docs.limit(60).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    corpus = docs.unionByName(dup)
    want = sorted(
        r["doc_id"]
        for r in dedup.dedup_exact(corpus, "doc_id", "text").collect()
    )
    assert len(want) < corpus.count()  # the fixture really dedups
    monkeypatch.setattr(dedup, "_BROADCAST_MAX_BANDED_ROWS", 0)
    got = sorted(
        r["doc_id"]
        for r in dedup.dedup_exact(corpus, "doc_id", "text").collect()
    )
    assert got == want


def test_bloom_prefilter_no_false_negatives(spark):
    """Every probe row whose key IS in the key set must survive the
    prefilter (bloom guarantees no false negatives)."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators.dedup import _bloom_prefilter

    probe = spark.range(0, 5000).select(
        F.col("id").alias("doc"),
        F.col("id").alias("pos"),
        F.xxhash64("id").alias("h1"),
        F.xxhash64("id", F.lit(1)).alias("h2"),
    )
    keys = probe.filter(F.col("doc") % 7 == 0).select("h1", "h2")
    out = _bloom_prefilter(probe, keys, keys.count())
    kept = {r["doc"] for r in out.collect()}
    members = set(range(0, 5000, 7))
    assert members <= kept  # no false negatives
    # and it actually filters (FPR ~1%, not pass-everything)
    assert len(kept) < 5000 * 0.25


class TestClusterImpact:
    def test_hand_graph(self, spark):
        # components: {1,2,3} (label 1), {7,9} (label 7); docs 5, 8
        # are singletons (never in a pair -> absent from the report)
        from raft_c_spark.operators.dedup import (
            cluster_impact,
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "a long, b long"
        )
        docs = spark.createDataFrame(
            [(i, 10 * i) for i in (1, 2, 3, 5, 7, 8, 9)],
            "doc_id long, n_chars long",
        )
        comps = connected_components(pairs)
        out = {
            r["cluster_size"]: r
            for r in cluster_impact(comps, docs).collect()
        }
        assert set(out) == {2, 3}
        # {7,9}: survivor 7 -> 1 doc and 90 chars removable
        assert out[2]["n_clusters"] == 1
        assert out[2]["docs_removable"] == 1
        assert out[2]["weight_removable"] == 90
        # {1,2,3}: survivor 1 -> 2 docs, 20+30=50 chars removable
        assert out[3]["n_clusters"] == 1
        assert out[3]["docs_removable"] == 2
        assert out[3]["weight_removable"] == 50

    def test_totals_match_survivor_pass(self, spark, sf_dir):
        # the histogram's removable totals must equal what an actual
        # keep-min-id pass over the same components would delete
        from raft_c_spark.operators import dedup as D
        from raft_c_spark.plans.dedup import (
            JACCARD_THRESHOLD,
            q_dedup_impact_report,
        )
        from raft_c_spark.sources.testdata import load_table

        import pyspark.sql.functions as F

        docs = load_table(spark, sf_dir, "documents")
        pairs = D.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=64, bands=8,
            threshold=JACCARD_THRESHOLD,
        )
        comps = D.connected_components(pairs)
        report = q_dedup_impact_report(spark, sf_dir)
        tot = report.agg(
            F.sum("docs_removable").alias("d"),
            F.sum("weight_removable").alias("w"),
        ).collect()[0]
        removed = (
            comps.filter(F.col("doc") != F.col("component"))
            .join(docs, F.col("doc") == F.col("doc_id"))
        )
        got = removed.agg(
            F.count(F.lit(1)).alias("d"), F.sum("n_chars").alias("w")
        ).collect()[0]
        assert (tot["d"], tot["w"]) == (got["d"], got["w"])


# -------- n-gram containment pairs


def test_containment_detects_quote_jaccard_misses(spark):
    """A 6-word doc embedded verbatim in a 60-word doc: containment
    (a→b) = 1.0 while Jaccard is far below any dedup threshold."""
    short = "the quick brown fox jumps high"
    long = (
        "filler one two three four five six seven eight nine ten "
        + short
        + " more filler words follow here in a long tail that keeps going "
        "with additional unique content padding the container document out"
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long)]
    )
    pairs = dedup.ngram_containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9, unit="word"
    ).collect()
    assert [(p["a"], p["b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["containment"] == 1.0
    jac = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5, unit="word"
    )
    assert jac.count() == 0


def test_containment_exact_dup_is_bidirectional(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=t), Row(doc_id=2, text=t), Row(doc_id=3, text="totally different words here entirely unrelated")]
    )
    got = sorted(
        (p["a"], p["b"])
        for p in dedup.ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.9, unit="word"
        ).collect()
    )
    assert got == [(1, 2), (2, 1)]


def test_containment_matches_naive_python(spark, docs):
    """Exactness: the prefix-probe candidate generation must equal the
    all-pairs fold on a real corpus slice."""
    sub = docs.filter(F.col("doc_id") < 120).select("doc_id", "text")
    got = sorted(
        (p["a"], p["b"], p["common"])
        for p in dedup.ngram_containment_pairs(
            sub, "doc_id", "text", n=5, threshold=0.8, unit="word"
        ).collect()
    )
    rows = sub.collect()

    def grams(t, n=5):
        toks = " ".join(t.lower().split()).split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {r["doc_id"]: grams(r["text"]) for r in rows}
    exp = sorted(
        (a, b, len(sa & sets[b]))
        for a, sa in sets.items()
        for b in sets
        if a != b and sa and len(sa & sets[b]) / len(sa) >= 0.8
    )
    assert got == exp
