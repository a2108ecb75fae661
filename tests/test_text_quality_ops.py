"""``operators/text`` tests: hand-constructed corpora with known
answers (the oracle contract proves Spark≡DuckDB; these prove both
compute the RIGHT thing), and hypothesis properties that hold each
operator to a brute-force pure-python replay on random small corpora —
independent implementation, random inputs, the strongest evidence
after the DuckDB oracle."""

from __future__ import annotations

import math

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from raft_c_spark.operators import text
from raft_c_spark.operators.text import _winnow_packed
from raft_c_spark.sources.testdata import load_table
from tests.harness import spark_property

def _corpora(words):
    """Hypothesis corpora: 1 to 8 documents of up to 12 ``words``."""
    return st.lists(
        st.lists(st.sampled_from(words), max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    )


WORDS = ["alpha", "bb", "ccc", "dd", "e"]
_texts = _corpora(WORDS)
_short_texts = _corpora(["a", "bb", "ccc", "dd", "e"])


def _docs(spark, rows):
    return spark.createDataFrame(list(rows), "doc_id long, text string")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


class TestRepetitionMetrics:
    def test_all_unique_tokens_zero_fractions(self, spark):
        out = text.repetition_metrics(
            _docs(spark, [(1, "alpha beta gamma delta epsilon")])
        ).collect()[0]
        assert out["n_tokens"] == 5
        assert out["dup_word_frac"] == 0.0
        assert out["dup_bigram_frac"] == 0.0
        assert out["dup_trigram_frac"] == 0.0

    def test_fully_repeated_token(self, spark):
        out = text.repetition_metrics(_docs(spark, [(1, "spam " * 6)])).collect()[0]
        # 6 tokens 1 distinct → 5/6; 5 bigrams 1 distinct → 4/5; 4 trigrams → 3/4
        assert out["n_tokens"] == 6
        assert out["dup_word_frac"] == pytest.approx(5 / 6)
        assert out["dup_bigram_frac"] == pytest.approx(4 / 5)
        assert out["dup_trigram_frac"] == pytest.approx(3 / 4)

    def test_repeated_phrase_detected_at_gram_level(self, spark):
        # "a b c a b c": words all repeat; bigrams: ab bc ca ab bc →
        # 5 total 3 distinct; trigrams: abc bca cab abc → 4 total 3 distinct
        out = text.repetition_metrics(_docs(spark, [(1, "a b c a b c")])).collect()[0]
        assert out["dup_word_frac"] == pytest.approx(3 / 6)
        assert out["dup_bigram_frac"] == pytest.approx(2 / 5)
        assert out["dup_trigram_frac"] == pytest.approx(1 / 4)

    def test_short_and_empty_docs(self, spark):
        rows = text.repetition_metrics(
            _docs(spark, [(1, ""), (2, "solo"), (3, "two words")])
        ).collect()
        by_id = {r["doc_id"]: r for r in rows}
        assert by_id[1]["n_tokens"] == 0 and by_id[1]["dup_word_frac"] == 0.0
        assert by_id[2]["dup_bigram_frac"] == 0.0  # no bigrams
        assert by_id[3]["dup_trigram_frac"] == 0.0


class TestDecontaminate:
    def test_planted_overlap_flagged(self, spark):
        bench = _docs(spark, [(100, "the quick brown fox jumps over")])
        train = _docs(
            spark,
            [
                (1, "padding text then the quick brown fox appears here"),
                (2, "completely unrelated words nothing shared at all"),
            ],
        )
        out = {r["doc_id"]: r["overlap_grams"] for r in
               text.decontaminate(train, bench, n=4).collect()}
        assert 1 in out and 2 not in out
        # shares exactly "the quick brown fox" (1 distinct 4-gram)
        assert out[1] == 1

    def test_overlap_counts_distinct_grams_once(self, spark):
        bench = _docs(spark, [(100, "x y z w x y z w")])
        # doc repeats the shared 4-gram twice — still ONE distinct gram
        train = _docs(spark, [(1, "x y z w and again x y z w")])
        out = text.decontaminate(train, bench, n=4).collect()
        assert len(out) == 1
        # train grams overlapping bench's gram set: "x y z w" only
        assert out[0]["overlap_grams"] == 1

    def test_disjoint_corpora_empty(self, spark):
        bench = _docs(spark, [(100, "one two three four five")])
        train = _docs(spark, [(1, "six seven eight nine ten")])
        assert text.decontaminate(train, bench, n=4).count() == 0

    def test_case_and_punct_normalized(self, spark):
        bench = _docs(spark, [(100, "The Quick BROWN Fox!")])
        train = _docs(spark, [(1, "...the quick brown fox...")])
        out = text.decontaminate(train, bench, n=4).collect()
        assert len(out) == 1 and out[0]["doc_id"] == 1


class TestWinnowFingerprints:
    def test_identical_docs_identical_digests(self, spark):
        out = text.winnow_fingerprints(
            _docs(spark, [(1, "the quick brown fox jumps over the lazy dog"),
                          (2, "The  Quick   Brown fox jumps over the lazy dog")])
        ).collect()
        by_id = {r["doc_id"]: r for r in out}
        # whitespace/case normalization → identical fingerprint sets
        assert by_id[1]["fp_digest"] == by_id[2]["fp_digest"]
        assert by_id[1]["n_fps"] == by_id[2]["n_fps"] > 0

    @staticmethod
    def _hashes(t, k=8, w=4):
        """The selected hash values of one text (positions dropped)."""
        return {int(v) & ((1 << 31) - 1) for v in _winnow_packed(t, k, w)}

    def test_winnowing_guarantee_on_shared_substring(self):
        """The winnowing guarantee: any shared substring of length
        ≥ k + w - 1 (= 11 here) produces at least one shared
        selected hash between the two documents."""
        shared = "abcdefghijklmnop"  # 16 chars >> 11
        a = self._hashes("xx " + shared + " yy")
        b = self._hashes("completely other prefix " + shared)
        assert a & b, "guarantee violated: no shared fingerprint"

    def test_disjoint_texts_disjoint_fingerprints(self):
        a = self._hashes("aaaa bbbb cccc dddd eeee")
        b = self._hashes("zzzz yyyy xxxx wwww vvvv")
        assert a and b and not (a & b)

    def test_short_docs_empty_fingerprints(self, spark):
        out = {r["doc_id"]: r for r in text.winnow_fingerprints(
            _docs(spark, [(1, "1234567"), (2, "")])
        ).collect()}
        assert out[1]["n_fps"] == 0 and out[2]["n_fps"] == 0


class TestWinnowKernelProperties:
    """Hypothesis: the vectorized numpy kernel ≡ a straightforward
    O(n·w) reference implementation, over arbitrary ASCII text and
    (k, w) parameters. This is the stride-tricks logic's safety net —
    no Spark involved, so hundreds of examples run in seconds."""

    @staticmethod
    def _reference(text, k, w):
        import hashlib  # noqa: F401  (parity of imports with kernel)

        from raft_c_spark.operators.text import WINNOW_B, WINNOW_M

        pw = [pow(WINNOW_B, k - 1 - j, WINNOW_M) for j in range(k)]
        norm = " ".join((text or "").lower().split())
        cps = [ord(c) for c in norm]
        hs = [
            sum(cps[i + j] * pw[j] for j in range(k)) % WINNOW_M
            for i in range(len(cps) - k + 1)
        ]
        if not hs:
            return []
        wlen = min(w, len(hs))
        sel = set()
        for p in range(len(hs) - wlen + 1):
            win = hs[p : p + wlen]
            mv = min(win)
            last = max(i for i, v in enumerate(win) if v == mv)
            sel.add(((p + last + 1) << 31) + mv)
        return sorted(sel)

    def test_kernel_matches_reference(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(
            text=st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                max_size=120,
            ),
            k=st.integers(min_value=2, max_value=10),
            w=st.integers(min_value=1, max_value=8),
        )
        def check(text, k, w):
            got = [int(v) for v in _winnow_packed(text, k, w)]
            assert got == self._reference(text, k, w)

        check()

    def test_kernel_handles_repeated_chars(self):
        # constant text → all hashes equal → rightmost-min rule picks
        # the LAST position of every window; selections collapse
        got = _winnow_packed("aaaaaaaaaaaaaaaa", 8, 4)
        ref = self._reference("aaaaaaaaaaaaaaaa", 8, 4)
        assert [int(v) for v in got] == ref


class TestBloomDecontaminate:
    def test_planted_overlap_flagged(self, spark):
        ev = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
        tr = _docs(
            spark,
            [
                (1, "zzz alpha beta gamma delta unrelated tail"),
                (2, "completely different words entirely here"),
            ],
        )
        got = {
            r["doc_id"]: r["flagged_grams"]
            for r in text.bloom_decontaminate(tr, ev, n=4).collect()
        }
        # doc 1 shares the 4-gram "alpha beta gamma delta"; doc 2 none
        assert got == {1: 1}

    def test_matches_exact_join_on_clean_corpus(self, spark):
        """With a 2^20-bit filter and a handful of grams, false
        positives are ~impossible: bloom must equal the exact join."""
        from raft_c_spark.sources.testdata import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        tr = docs.filter(F.col("doc_id") % 97 != 0)
        bloom = {
            (r["doc_id"], r["flagged_grams"])
            for r in text.bloom_decontaminate(tr, ev, n=4).collect()
        }
        exact = {
            (r["doc_id"], r["overlap_grams"])
            for r in text.decontaminate(tr, ev, n=4).collect()
        }
        assert bloom == exact

    def test_oversized_eval_side_raises(self, spark):
        big = _docs(spark, [(1, "a b c d e")])
        with pytest.raises(ValueError):
            text.bloom_decontaminate(big, big, max_eval_bytes=1)


class TestQualityClassifier:
    def test_feature_count_and_score_range(self, spark):
        out = text.quality_classifier(
            _docs(spark, [(1, "alpha beta gamma")])
        ).collect()[0]
        # 3 unigrams + 2 bigrams
        assert out["n_feats"] == 5
        assert -1.0 <= out["score"] <= 1.0

    def test_deterministic_and_content_keyed(self, spark):
        d = _docs(spark, [(1, "alpha beta"), (2, "alpha beta"), (3, "other words")])
        rows = {r["doc_id"]: r["score"] for r in text.quality_classifier(d).collect()}
        assert rows[1] == rows[2]
        assert rows[1] != rows[3]

    def test_empty_doc_drops_out(self, spark):
        d = _docs(spark, [(1, "real words"), (2, "   "), (3, "")])
        assert {r["doc_id"] for r in text.quality_classifier(d).collect()} == {1}


class TestSnapshotDiff:
    def test_classifies_all_four_states(self, spark):
        from raft_c_spark.operators import sampling

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fp string"
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "CHANGED"), (4, "d")], "doc_id long, fp string"
        )
        got = {
            r["doc_id"]: r["status"]
            for r in sampling.snapshot_diff(old, new).collect()
        }
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


class TestBloomSupersetProperty:
    def test_bloom_flags_superset_of_exact_overlaps(self, spark):
        """Structural bloom guarantee — NO false negatives: every doc
        the exact gram join flags must be bloom-flagged with at least
        as many grams (bloom adds only false positives). Exercised on
        a corpus engineered with heavy shared phrases."""
        phrase = "the quick brown fox jumps over the lazy dog"
        rows = [(i, f"{phrase} filler{i} tail words here") for i in range(30)]
        ev = _docs(spark, [(100, phrase + " extra"), (101, "unrelated eval words entirely")])
        tr = _docs(spark, rows)
        exact = {
            r["doc_id"]: r["overlap_grams"]
            for r in text.decontaminate(tr, ev, n=3).collect()
        }
        bloom = {
            r["doc_id"]: r["flagged_grams"]
            for r in text.bloom_decontaminate(tr, ev, n=3).collect()
        }
        assert set(exact) <= set(bloom)
        for d, n_exact in exact.items():
            assert bloom[d] >= n_exact


def test_non_ascii_ratio_ignores_ascii_whitespace(spark):
    """Tab/newline/CR are ASCII: a line-broken numeric list must not
    trip the CJK gate."""
    from raft_c_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "1\n2\n3\n4"), (2, "中文中文中文中文中文")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["non_ascii_ratio"], r["pred_lang"])
           for r in t.analyze(df).collect()}
    assert out[1][0] == 0.0 and out[1][1] != "zh"
    assert out[2][1] == "zh"


def test_bloom_decontaminate_saturation_raises(spark):
    """An eval gram set that saturates the filter must fail loudly
    (fpr ~= 1 makes the output noise) instead of flagging everything."""
    import pytest

    from raft_c_spark.operators import text as t

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(200)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="saturated"):
        t.bloom_decontaminate(
            df, df, "doc_id", "text", n=4, m_bits=1 << 10, k=5,
            max_eval_bytes=256 << 20,
        )


def test_decontaminate_honors_id_col_name(spark):
    from raft_c_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")],
        "page_id long, text string",
    )
    out = t.decontaminate(
        df.filter("page_id = 1"), df.filter("page_id = 2"),
        id_col="page_id", text_col="text", n=3,
    )
    assert "page_id" in out.columns


class TestGopherRules:
    def test_rule_thresholds(self, spark):
        from raft_c_spark.operators.text import gopher_rules

        df = spark.createDataFrame(
            [
                # clean English-ish doc: all rules pass
                (1, "the cat sat of the mat and that dog have fun " * 5),
                # symbol soup: word-count/symbol/alpha/stopword fail
                (2, "## ### #### ...."),
                # single-letter words: mean-word-len fails
                (3, "a b c d e f g h i j k l"),
                # numbers only: alpha-word rule fails
                (4, " ".join(str(i) for i in range(20)) + " the of and"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in gopher_rules(df, min_words=10).collect()
        }
        assert out[1]["passes_gopher"]
        assert not out[2]["rule_word_count"]
        assert not out[2]["rule_symbol_ratio"]
        assert not out[3]["rule_mean_word_len"]
        assert not out[3]["passes_gopher"]
        assert not out[4]["rule_alpha_words"]
        assert out[4]["rule_stopwords"]

    def test_symbol_counting_non_overlapping(self, spark):
        """'....' is ONE ellipsis match (+ leftover dot), '####' is
        four hash matches — pin the regexp_count semantics the oracle
        mirrors."""
        from raft_c_spark.operators.text import gopher_rules

        df = spark.createDataFrame(
            [(1, "w " * 30 + "#### ....")], "doc_id long, text string"
        )
        row = gopher_rules(df, min_words=10).first()
        # 5 symbols / 32 words > 0.1 → rule fails
        assert not row["rule_symbol_ratio"]

    def test_empty_text(self, spark):
        from raft_c_spark.operators.text import gopher_rules

        row = gopher_rules(
            spark.createDataFrame([(1, "")], "doc_id long, text string"),
            min_words=10,
        ).first()
        assert row["n_words"] == 0 and not row["passes_gopher"]


@given(texts=_short_texts)
@spark_property()
def test_gopher_rules_match_python_replay(spark, texts):
    """Every rule boolean recomputed with an independent pure-python
    tokenizer must agree (same thresholds as the registry query)."""
    import re

    from raft_c_spark.operators.text import gopher_rules

    df = _docs(spark, enumerate(texts))
    rows = {
        r["doc_id"]: r for r in gopher_rules(df, min_words=2).collect()
    }
    for doc, t in enumerate(texts):
        words = re.findall(r"\S+", t)
        n = len(words)
        mean_wl = sum(len(w) for w in words) / max(n, 1)
        symbols = len(re.findall(r"#|\.\.\.", t))
        alpha = len([w for w in words if re.search("[A-Za-z]", w)])
        sw = len(
            re.findall(
                r"\b(?:the|be|to|of|and|that|have|with)\b", t.lower()
            )
        )
        r = rows[doc]
        assert r["n_words"] == n
        assert r["rule_word_count"] == (2 <= n <= 100_000)
        assert r["rule_mean_word_len"] == (3.0 <= mean_wl <= 10.0)
        assert r["rule_symbol_ratio"] == (symbols / max(n, 1) <= 0.1)
        assert r["rule_alpha_words"] == (alpha / max(n, 1) >= 0.8)
        assert r["rule_stopwords"] == (sw >= 2)
        assert r["passes_gopher"] == all(
            (
                r["rule_word_count"],
                r["rule_mean_word_len"],
                r["rule_symbol_ratio"],
                r["rule_alpha_words"],
                r["rule_stopwords"],
            )
        )


class TestNgramOverlapContamination:
    def test_overlap_ratio_and_flag(self, spark):
        from raft_c_spark.operators.text import ngram_overlap_contamination

        train = spark.createDataFrame(
            [
                (1, "a b c d e"),     # grams: abc bcd cde → 2 hits
                (2, "x y z w q"),     # no hits
                (3, "a b"),           # too short for n=3 → excluded
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "a b c d zz")], "doc_id long, text string"
        )  # eval grams: "a b c", "b c d", "c d zz"
        out = {
            r["doc_id"]: r
            for r in ngram_overlap_contamination(
                train, ev, n=3, threshold=0.5
            ).collect()
        }
        assert out[1]["n_grams"] == 3 and out[1]["n_hit"] == 2
        assert abs(out[1]["overlap_ratio"] - 2 / 3) < 1e-8
        assert out[1]["contaminated"]
        assert out[2]["n_hit"] == 0 and not out[2]["contaminated"]
        assert 3 not in out  # sub-n docs produce no gram rows

    def test_distinct_grams_counted_once(self, spark):
        """A repeated gram inside one doc counts once on both sides of
        the ratio (the GPT-3 method is over the doc's gram SET)."""
        from raft_c_spark.operators.text import ngram_overlap_contamination

        train = spark.createDataFrame(
            [(1, "a b c a b c a b c")], "doc_id long, text string"
        )
        ev = spark.createDataFrame(
            [(9, "a b c x")], "doc_id long, text string"
        )
        row = ngram_overlap_contamination(train, ev, n=3).first()
        # distinct grams of doc1: {a b c, b c a, c a b} → 3, one hit
        assert row["n_grams"] == 3 and row["n_hit"] == 1


def _brute_overlap(train: list[str], ev: list[str], n: int):
    def grams(t):
        toks = t.lower().split()
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    eg = set().union(*(grams(t) for t in ev)) if ev else set()
    out = {}
    for doc, t in enumerate(train):
        g = grams(t)
        if g:
            out[doc] = (len(g), len(g & eg))
    return out


@given(train=_short_texts, ev=_short_texts, n=st.integers(1, 3))
@spark_property()
def test_overlap_contamination_matches_brute_force(spark, train, ev, n):
    from raft_c_spark.operators.text import ngram_overlap_contamination

    tdf = _docs(spark, enumerate(train))
    edf = _docs(spark, [(i + 1000, t) for i, t in enumerate(ev)])
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit"])
        for r in ngram_overlap_contamination(tdf, edf, n=n).collect()
    }
    assert got == _brute_overlap(train, ev, n)


class TestCcnetBuckets:
    def test_bucket_partition(self, spark, sf_dir):
        from raft_c_spark.operators.text import ccnet_perplexity_buckets
        from raft_c_spark.sources.testdata import load_table

        docs = load_table(spark, sf_dir, "documents")
        rows = ccnet_perplexity_buckets(docs).collect()
        assert rows, "no buckets produced"
        by_lang = {}
        for r in rows:
            assert r["bucket"] in ("head", "middle", "tail")
            assert r["min_xent"] <= r["median_xent"] <= r["max_xent"]
            by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
        for lang, buckets in by_lang.items():
            # quartile cuts: head holds ~25% (>=1 doc), and bucket
            # ranges must be ordered head < middle < tail
            assert "head" in buckets, (lang, buckets)
            if "middle" in buckets:
                assert (
                    buckets["head"]["max_xent"]
                    <= buckets["middle"]["min_xent"]
                )
            if "middle" in buckets and "tail" in buckets:
                assert (
                    buckets["middle"]["max_xent"]
                    <= buckets["tail"]["min_xent"]
                )


def test_ccnet_approx_certify_bands_hold(spark):
    # skewed + tied + tiny-group data: the GK sketch must stay inside
    # its own rank contract, so every certification boolean is TRUE
    rows = (
        [(i, "en", float(i)) for i in range(200)]
        + [(1000 + i, "fr", float(i % 7)) for i in range(97)]  # ties
        + [(2000, "zh", 3.25), (2001, "zh", 3.25)]  # 2-doc group
    )
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, xent double"
    )
    # replicate the operator's two certification passes on a frame
    # with a KNOWN score column (the public function derives xent
    # from text, which can't be steered to these distributions); the
    # full operator is certified over real documents in the next test
    cuts = df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_approx(xent, array(0.25d, 0.75d), 1000)").alias(
            "ap"
        ),
    )
    j = df.join(F.broadcast(cuts), "lang")
    got = (
        j.groupBy("lang", "n")
        .agg(
            F.sum((F.col("xent") <= F.col("ap")[0]).cast("long")).alias("le"),
            F.sum((F.col("xent") < F.col("ap")[0]).cast("long")).alias("lt"),
        )
        .collect()
    )
    for r in got:
        eps = 1.0 / 1000 + 2.0 / r["n"]
        assert r["le"] >= (0.25 - eps) * r["n"], r
        assert r["lt"] + 1 <= (0.25 + eps) * r["n"] + 1e-9, r


def test_ccnet_approx_certify_all_true(spark, sf_dir):
    from raft_c_spark.plans.text import q_ds_ccnet_buckets_approx

    rows = q_ds_ccnet_buckets_approx(spark, sf_dir).collect()
    assert rows, "must emit one row per language"
    for r in rows:
        assert r["cut_lo_in_band"] is True, tuple(r)
        assert r["cut_hi_in_band"] is True, tuple(r)
        assert r["n_docs"] > 0


class TestBM25TopK:
    def test_ranking_and_k(self, spark):
        # doc 1 mentions the query term 3x (short), doc 2 once (long),
        # doc 3 never -> excluded; higher tf + shorter doc ranks first
        rows = [
            (1, "spark spark spark query"),
            (2, "spark alpha beta gamma delta epsilon zeta eta theta"),
            (3, "nothing relevant here at all"),
        ]
        out = text.bm25_topk(
            _docs(spark, rows), ["spark"], k=10
        ).collect()
        assert [r["doc_id"] for r in out] == [1, 2]
        assert out[0]["score"] > out[1]["score"] > 0
        assert all(r["n_terms"] == 1 for r in out)

    def test_multi_term_match_count_and_limit(self, spark):
        rows = [
            (1, "alpha beta"),
            (2, "alpha"),
            (3, "beta"),
            (4, "alpha beta alpha beta"),
        ]
        out = text.bm25_topk(
            _docs(spark, rows), ["alpha", "beta"], k=2
        ).collect()
        assert len(out) == 2  # k respected
        by_id = {r["doc_id"]: r for r in out}
        assert all(r["n_terms"] == 2 for r in by_id.values())

    def test_rare_term_outweighs_common(self, spark):
        # 'rare' appears in 1 of 5 docs, 'common' in all 5: equal tf,
        # equal dl -> the rare-term doc must outrank a common-term doc
        rows = [
            (1, "rare filler filler"),
            (2, "common filler filler"),
            (3, "common filler filler"),
            (4, "common filler filler"),
            (5, "common filler filler"),
        ]
        out = text.bm25_topk(
            _docs(spark, rows), ["rare", "common"], k=5
        ).collect()
        assert out[0]["doc_id"] == 1

    def test_empty_terms_rejected(self, spark):
        with pytest.raises(ValueError):
            text.bm25_topk(_docs(spark, [(1, "x")]), [])


def _brute_bm25(texts, terms, k1=1.2, b=0.75):
    """Reference replay with the operator's quantization points:
    round(idf, 8) and round(tfpart, 8) per (doc, term), fsum per doc.
    Python float products differ from the decimal-exact Spark sum
    only below ~1e-12 — compared with approx."""
    toks = [t.split() for t in texts]
    n_docs = len(texts)
    dl = [len(ts) for ts in toks]
    avgdl = sum(dl) / n_docs
    tf: dict[tuple[int, str], int] = {}
    for d, ts in enumerate(toks):
        for w in ts:
            if w in terms:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df: dict[str, int] = {}
    for (d, w) in tf:
        df[w] = df.get(w, 0) + 1
    scores: dict[int, float] = {}
    nterms: dict[int, int] = {}
    for (d, w), f in tf.items():
        idf = round(math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5)), 8)
        tfp = round(
            (f * (k1 + 1.0))
            / (f + k1 * (1.0 - b + b * dl[d] / avgdl)),
            8,
        )
        scores[d] = scores.get(d, 0.0) + idf * tfp
        nterms[d] = nterms.get(d, 0) + 1
    return {d: (nterms[d], round(s, 8)) for d, s in scores.items()}


@given(texts=_texts, terms=st.sets(st.sampled_from(WORDS), min_size=1, max_size=3))
@spark_property()
def test_bm25_matches_brute(spark, texts, terms):
    got = {
        r["doc_id"]: (r["n_terms"], r["score"])
        for r in text.bm25_topk(
            _docs(spark, enumerate(texts)), sorted(terms), k=len(texts)
        ).collect()
    }
    want = _brute_bm25(texts, terms)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0]
        assert got[d][1] == pytest.approx(want[d][1], abs=1e-6)


class TestCharEntropy:
    def test_known_values(self, spark):
        rows = [(1, "aaaa"), (2, "abab"), (3, "abcd")]
        out = {
            r["doc_id"]: r
            for r in text.char_entropy(_docs(spark, rows)).collect()
        }
        assert out[1]["entropy_bits"] == 0.0  # single symbol
        assert out[2]["entropy_bits"] == pytest.approx(1.0)  # 2 uniform
        assert out[3]["entropy_bits"] == pytest.approx(2.0)  # 4 uniform
        assert out[3]["n_distinct_chars"] == 4
        assert out[3]["n_chars_counted"] == 4

    def test_spaces_counted_and_empty_doc_omitted(self, spark):
        rows = [(1, "a a"), (2, "")]
        out = text.char_entropy(_docs(spark, rows)).collect()
        assert len(out) == 1  # empty doc has no distribution
        r = out[0]
        assert r["n_chars_counted"] == 3  # the space counts
        # p(a)=2/3, p(' ')=1/3 -> H = log2(3) - 2/3 ~ 0.9183
        assert r["entropy_bits"] == pytest.approx(0.91829583, abs=1e-6)

    def test_low_entropy_flags_repetition(self, spark):
        rows = [(1, "spam spam spam spam spam"), (2, "the quick brown fox")]
        out = {
            r["doc_id"]: r["entropy_bits"]
            for r in text.char_entropy(_docs(spark, rows)).collect()
        }
        assert out[1] < out[2]


def _brute_entropy(texts):
    out = {}
    for d, t in enumerate(texts):
        if not t:
            continue
        counts: dict[str, int] = {}
        for ch in t:
            counts[ch] = counts.get(ch, 0) + 1
        n = len(t)
        ent = math.fsum(
            round(-(c / n) * math.log2(c / n), 8) for c in counts.values()
        )
        out[d] = (n, len(counts), round(ent, 8))
    return out


@given(texts=_texts)
@spark_property()
def test_char_entropy_matches_brute(spark, texts):
    got = {
        r["doc_id"]: (
            r["n_chars_counted"],
            r["n_distinct_chars"],
            r["entropy_bits"],
        )
        for r in text.char_entropy(_docs(spark, enumerate(texts))).collect()
    }
    want = _brute_entropy(texts)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0]
        assert got[d][1] == want[d][1]
        assert got[d][2] == pytest.approx(want[d][2], abs=1e-7)


def _brute_collocations(texts, min_count, k):
    toks = [t.split() for t in texts]
    t_tokens = sum(len(ts) for ts in toks)
    b_pairs = sum(max(len(ts) - 1, 0) for ts in toks)
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    for ts in toks:
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    out = []
    for (a, b), c_ab in bi.items():
        if c_ab < min_count:
            continue
        pmi = round(
            math.log(
                (c_ab / b_pairs)
                / ((uni[a] / t_tokens) * (uni[b] / t_tokens))
            ),
            8,
        )
        out.append((a, b, c_ab, uni[a], uni[b], pmi))
    out.sort(key=lambda r: (-r[5], r[0], r[1]))
    return out[:k]


@given(texts=_texts, min_count=st.integers(1, 3))
@spark_property()
def test_collocations_match_brute(spark, texts, min_count):
    got = [
        (r["w1"], r["w2"], r["n_pair"], r["n_w1"], r["n_w2"], r["pmi"])
        for r in text.collocations(
            _docs(spark, enumerate(texts)), min_count=min_count, k=100
        ).collect()
    ]
    want = _brute_collocations(texts, min_count, 100)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:5] == w[:5]
        assert g[5] == pytest.approx(w[5], abs=1e-7)


def test_collocations_min_count_validates(spark):
    with pytest.raises(ValueError):
        text.collocations(_docs(spark, [(0, "a b")]), min_count=0)


def test_collocations_short_docs_no_pairs(spark):
    # 0- and 1-token docs contribute tokens to T but no pairs to B
    out = text.collocations(
        _docs(spark, enumerate(["solo", "", "x y x y x y"])), min_count=2, k=10
    ).collect()
    pairs = {(r["w1"], r["w2"]): r["n_pair"] for r in out}
    assert pairs == {("x", "y"): 3, ("y", "x"): 2}


def _brute_lang_kl(rows):
    """rows: list of (lang, text). Replays the operator's quantization
    points: per-word round(p_lw*ln(p_lw/p_w), 8), fsum per lang."""
    lw: dict[tuple[str, str], int] = {}
    cw: dict[str, int] = {}
    tl: dict[str, int] = {}
    t = 0
    for lang, doc in rows:
        ws = doc.split()
        tl[lang] = tl.get(lang, 0) + len(ws)
        t += len(ws)
        for w in ws:
            lw[(lang, w)] = lw.get((lang, w), 0) + 1
            cw[w] = cw.get(w, 0) + 1
    out: dict[str, tuple[int, int, float]] = {}
    terms: dict[str, list[float]] = {}
    types: dict[str, int] = {}
    for (lang, w), c in lw.items():
        p_lw = c / tl[lang]
        p_w = cw[w] / t
        terms.setdefault(lang, []).append(round(p_lw * math.log(p_lw / p_w), 8))
        types[lang] = types.get(lang, 0) + 1
    for lang in terms:
        out[lang] = (tl[lang], types[lang], round(math.fsum(terms[lang]), 8))
    return out


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "zh"]),
            st.lists(st.sampled_from(WORDS), min_size=1, max_size=10).map(
                " ".join
            ),
        ),
        min_size=1,
        max_size=10,
    )
)
@spark_property()
def test_lang_kl_matches_brute(spark, rows):
    df = spark.createDataFrame(
        [(i, l, t) for i, (l, t) in enumerate(rows)],
        "doc_id long, lang string, text string",
    )
    got = {
        r["lang"]: (r["n_tokens"], r["n_types"], r["kl_nats"])
        for r in text.lang_unigram_kl(df).collect()
    }
    want = _brute_lang_kl(rows)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-7)


def test_lang_kl_single_lang_is_zero(spark):
    # one language == the corpus -> p_lw == p_w for every word -> KL 0
    df = spark.createDataFrame(
        [(1, "en", "a b a c"), (2, "en", "b b c")],
        "doc_id long, lang string, text string",
    )
    rows = text.lang_unigram_kl(df).collect()
    assert len(rows) == 1
    assert rows[0]["kl_nats"] == pytest.approx(0.0, abs=1e-8)
    assert rows[0]["n_tokens"] == 7
    assert rows[0]["n_types"] == 3


def test_lang_kl_nonnegative(spark):
    df = spark.createDataFrame(
        [(1, "en", "x x x y"), (2, "fr", "y y z z z")],
        "doc_id long, lang string, text string",
    )
    for r in text.lang_unigram_kl(df).collect():
        assert r["kl_nats"] >= -1e-8  # Gibbs' inequality


def test_lang_kl_zero_token_language_surfaces(spark):
    # a language with nothing for the [a-z0-9]+
    # tokenizer (actual zh text, symbols) must NOT vanish through an
    # inner join — it emits n_tokens=0 / n_types=0 / kl_nats=NULL.
    df = spark.createDataFrame(
        [(1, "en", "a b a"), (2, "zh", "你好 世界"), (3, "zh", "——！")],
        "doc_id long, lang string, text string",
    )
    rows = {r["lang"]: r for r in text.lang_unigram_kl(df).collect()}
    assert set(rows) == {"en", "zh"}
    assert rows["zh"]["n_tokens"] == 0
    assert rows["zh"]["n_types"] == 0
    assert rows["zh"]["kl_nats"] is None
    assert rows["en"]["n_tokens"] == 3
    assert rows["en"]["kl_nats"] == pytest.approx(0.0, abs=1e-8)


def test_vocab_growth_brute(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "x y x z"),
            (2, "a", "x w"),
            (3, "b", "q"),
            (4, "c", "——"),  # zero tokens under [a-z0-9]+
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in text.vocab_growth(df).collect()}
    assert set(rows) == {"a", "b", "c"}
    a = rows["a"]
    assert (a["n_docs"], a["n_tokens"], a["n_types"]) == (2, 6, 4)
    assert a["ttr"] == pytest.approx(round(4 / 6, 8))
    assert a["heaps_beta"] == pytest.approx(
        round(round(math.log(4), 8) / round(math.log(6), 8), 8)
    )
    b = rows["b"]  # single token: ttr defined, beta NULL (ln N = 0)
    assert (b["n_tokens"], b["n_types"], b["ttr"]) == (1, 1, 1.0)
    assert b["heaps_beta"] is None
    c = rows["c"]  # zero tokens: NULL ttr and beta, counts zero
    assert (c["n_tokens"], c["n_types"]) == (0, 0)
    assert c["ttr"] is None and c["heaps_beta"] is None


def test_vocab_growth_sublinear_on_zipf(spark):
    # natural-ish (Zipf) text has beta < 1; a same-word spam source
    # sits near 0 — the triage signal the operator exists for
    rows = [(i, "nat", " ".join(f"w{j % (1 + j // 3)}" for j in range(50)))
            for i in range(20)]
    rows += [(100 + i, "spam", "buy " * 50) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r["heaps_beta"] for r in text.vocab_growth(df).collect()}
    assert got["spam"] < 0.2
    assert got["spam"] < got["nat"] < 1.0


def test_novelty_brute(spark):
    # doc 1 introduces all its grams; doc 2 repeats doc 1 exactly
    # (novelty 0); doc 3 shares a prefix gram but adds new ones;
    # doc 4 is too short for a trigram
    df = spark.createDataFrame(
        [
            (1, "a b c d"),      # grams: abc, bcd
            (2, "a b c d"),      # both first seen in doc 1 -> 0.0
            (3, "a b c e f"),    # abc old; bce, cef new -> 2/3
            (4, "a b"),          # no trigram
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.novelty(df, n=3).collect()}
    assert rows[1]["n_grams"] == 2 and rows[1]["novelty"] == 1.0
    assert rows[2]["n_grams"] == 2 and rows[2]["novelty"] == 0.0
    assert rows[3]["n_grams"] == 3
    assert rows[3]["n_first"] == 2
    assert rows[3]["novelty"] == pytest.approx(round(2 / 3, 8))
    assert rows[4]["n_grams"] == 0 and rows[4]["novelty"] is None


def test_novelty_within_doc_duplicates_count_once(spark):
    # repeated grams inside one doc are DISTINCT-ed map-side: the doc
    # introduces the gram once, and it still counts as first-seen
    df = spark.createDataFrame(
        [(7, "a b a b a b")],  # trigrams: aba, bab (each twice)
        "doc_id long, text string",
    )
    r = text.novelty(df, n=3).collect()[0]
    assert r["n_grams"] == 2 and r["n_first"] == 2 and r["novelty"] == 1.0


def test_novelty_total_first_equals_distinct_grams(spark, sf_dir):
    # conservation: every distinct corpus gram is first-seen exactly
    # once, so sum(n_first) == |distinct grams|
    docs = load_table(spark, sf_dir, "documents").limit(200)
    out = text.novelty(docs, n=3)
    total_first = out.agg(F.sum("n_first")).collect()[0][0]
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
    )
    g = F.transform(
        F.sequence(F.lit(1), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.slice("t", i, 3)),
    )
    distinct_grams = (
        docs.select(toks.alias("t"))
        .filter(F.size("t") >= 3)
        .select(F.explode(g).alias("g"))
        .distinct()
        .count()
    )
    assert total_first == distinct_grams


def test_novelty_plan_quality(spark, sf_dir):
    """Map-side distinct + min-doc aggregate, per-doc counts derived
    WITHOUT any vocab-keyed join: no window over gram keys, no
    cartesian, no Python — and no join keyed on the gram hash pair at
    all (joining the unbounded corpus-vocabulary first-occurrence
    table back against the full gram stream would; n_first comes from
    a per-first_doc count of the aggregate itself, so the only joins
    left are doc-keyed between doc-sized frames, and none carries a
    Generate-stats size estimate that could trip a broadcast)."""
    from raft_c_spark.plans.text import q_text_novelty

    plan = q_text_novelty(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan
    # no join may key on the gram hash pair (vocab-sized stream)
    import re

    for m in re.finditer(r"(\w+Join) \[([^\]]*)\]", plan):
        assert "h1" not in m.group(2), (m.group(0), plan)


def test_vocab_growth_plan_quality(spark, sf_dir):
    from raft_c_spark.plans.text import q_text_vocab_growth

    plan = q_text_vocab_growth(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan


def test_compression_matches_zlib_direct(spark):
    import zlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spam spam spam spam spam spam spam spam"),
        (3, ""),
    ]
    got = {r["doc_id"]: r for r in text.compression_ratio(_docs(spark, rows)).collect()}
    for i, t in rows:
        b = t.encode()
        assert got[i]["n_bytes"] == len(b)
        assert got[i]["n_compressed"] == len(zlib.compress(b, 6))
        if b:
            assert got[i]["ratio"] == pytest.approx(
                round(len(zlib.compress(b, 6)) / len(b), 8)
            )
        else:
            assert got[i]["ratio"] is None
    # the signal separates: template spam compresses far better
    assert got[2]["ratio"] < got[1]["ratio"]


def test_compression_unknown_corpus_errors_loudly(duck, tmp_path):
    """A corpus outside the ground-truth roots must raise DuckDB's
    error() branch, never hash-mismatch on an empty result."""
    import duckdb as _dd

    import pyarrow as pa
    import pyarrow.parquet as pq

    from raft_c_spark.plans.text import compression_oracle_sql

    p = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table({"doc_id": [999_999_999], "text": ["zzz unknown zzz"]}), p
    )
    con = _dd.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')"
    )
    with pytest.raises(_dd.Error, match="no compression ground truth"):
        con.execute(compression_oracle_sql()).fetchall()


# -------- bigram-LM cross-entropy scoring


def test_lm_score_hand_fixture(spark):
    """Corpus: 'a b a b', 'a b c'. Contexts: doc1 a→b, b→a, a→b;
    doc2 a→b, b→c. c1(a)=3, c1(b)=2; c12(a,b)=3, c12(b,a)=1,
    c12(b,c)=1; V = |{a,b,c}| = 3."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b"), Row(doc_id=2, text="a b c")]
    )
    out = {r["doc_id"]: r for r in text.ngram_lm_score(df).collect()}
    p_ab = (3 + 1) / (3 + 3)
    p_ba = (1 + 1) / (2 + 3)
    p_bc = (1 + 1) / (2 + 3)

    def bits(p):
        return round(-math.log2(p), 8)

    exp1 = (bits(p_ab) + bits(p_ba) + bits(p_ab)) / 3
    exp2 = (bits(p_ab) + bits(p_bc)) / 2
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 2
    assert abs(out[1]["xent"] - exp1) < 1e-9
    assert abs(out[2]["xent"] - exp2) < 1e-9


def test_lm_score_short_docs_excluded(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="single"), Row(doc_id=2, text=""), Row(doc_id=3, text="two words")]
    )
    out = text.ngram_lm_score(df)
    assert [r["doc_id"] for r in out.collect()] == [3]


def test_lm_score_predictable_scores_lower(spark, docs):
    """The filter's discriminating direction: a document made of one
    endlessly repeated transition (maximally predictable under its
    own statistics) must score far below the corpus median, and below
    a same-length all-novel-transitions document. (The synthetic
    corpus is near-uniform random text, so the classic 'gibberish >
    median' direction is not testable here — predictability is.)"""
    extra = docs.sparkSession.createDataFrame(
        [
            Row(doc_id=10**9, text=" ".join(["loop"] * 30)),
            Row(doc_id=10**9 + 1, text="zq xv qj vk wz kx jq vx zk qw"),
        ]
    )
    corpus = docs.select("doc_id", "text").unionByName(extra)
    out = text.ngram_lm_score(corpus).cache()
    med = out.filter(F.col("doc_id") < 10**9).agg(
        F.expr("percentile_approx(xent, 0.5)")
    ).first()[0]
    loop = out.filter(F.col("doc_id") == 10**9).first()["xent"]
    novel = out.filter(F.col("doc_id") == 10**9 + 1).first()["xent"]
    assert loop < med and loop < novel


_WORDS = st.lists(
    st.sampled_from(["a", "b", "c", "dd", "e9"]), min_size=0, max_size=12
)


@spark_property(12)
@given(texts=st.lists(_WORDS, min_size=1, max_size=8))
def test_lm_score_matches_python_fold(spark, texts):
    """For ANY tiny corpus, the distributed score equals a sequential
    pure-python replay of the same add-one bigram LM (counts, V, and
    the round-to-8 decimal quantization)."""
    from collections import Counter

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(t)) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent"])
        for r in text.ngram_lm_score(df).collect()
    }
    occ = {
        i: list(zip(t, t[1:])) for i, t in enumerate(texts) if len(t) >= 2
    }
    c12 = Counter(bg for bgs in occ.values() for bg in bgs)
    c1 = Counter(bg[0] for bgs in occ.values() for bg in bgs)
    vocab = len({bg[1] for bgs in occ.values() for bg in bgs})
    exp = {}
    for i, bgs in occ.items():
        if not bgs:
            continue
        bits = [
            round(-math.log2((c12[bg] + 1) / (c1[bg[0]] + vocab)), 8)
            for bg in bgs
        ]
        exp[i] = (len(bgs), sum(bits) / len(bgs))
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0]
        assert abs(got[i][1] - exp[i][1]) < 1e-9
