"""Byte-pair-encoding tokenizer — deterministic, corpus-derived,
stdlib-only.

Real pre-training pipelines budget packing and length stats by BPE
token count, not whitespace words (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016 — public; the
merge-table encode is the GPT-2 style lowest-rank-pair loop, Radford
et al. 2019 — public). This module provides:

- ``learn_merges`` — pure-Python BPE training on a word-frequency
  table (incremental pair-count maintenance, deterministic tie-breaks)
- ``encode_word`` — apply a learned merge table to one word
- ``train_bpe`` — Spark word counts → deterministic top-``max_words``
  selection → ``learn_merges``; disk-cached per corpus fingerprint
- ``bpe_token_counts`` — per-document BPE token counts, the scale
  path (see below)

Scale shape (the 100 TB argument): BPE *training* operates on the
word-FREQUENCY table, not the corpus — one map-side-combined
``groupBy(word)`` aggregate collapses the corpus to its vocabulary,
and the deterministic top-``max_words`` slice (count desc, word asc)
bounds the driver materialization exactly the way every measured-cap
collect in this repo does; training on the most frequent words is the
standard practice, not an approximation knob. *Encoding* is
vocabulary-sized too: the distinct-word frame is encoded by a
vectorized Arrow kernel with the ~``num_merges``-entry rank table in
the closure (kilobytes — broadcast by the task serializer), and the
per-word token counts join back to the (doc, word) stream broadcast
under the measured row cap (shuffle equi-join fallback above). The
corpus-sized stream is touched exactly twice, both map-side: the
tokenize+explode feeding the two aggregates. No per-row Python ever
sees corpus text — only distinct words.

Determinism contract: merges depend only on the word-count table
(integer counts, lexicographic tie-breaks), so the Spark-trained and
pure-Python-replayed merge lists are identical — ``merges_md5`` pins
that in tests, and the driver oracle reads a ground-truth parquet
produced by the same ``learn_merges``/``encode_word`` on a pure
pyarrow re-read of the corpus (plans/text_bpe.py).
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raft_c_spark.functions.metabound import _widen

#: repo-wide word convention (same regex as text.py / the oracles)
TOKEN_RE = "[a-z0-9]+"

#: end-of-word sentinel appended before merging so a learned subword
#: can't bridge two words ("er</w>" vs "er" are distinct symbols)
END = "</w>"

#: bump when the training/encode algorithm changes (cache + ground
#: truth invalidation)
BPE_VERSION = 1


# ---------------------------------------------------------------------------
# pure-Python core (shared verbatim by the Spark path, the oracle
# ground-truth replay, and the pytest pins)
# ---------------------------------------------------------------------------


def learn_merges(
    word_counts: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """BPE training over a (word, count) table. Deterministic: the
    best pair each step is (highest summed count, then lexicographic
    smallest pair); merging stops early when no pair occurs at least
    twice. Incremental maintenance — only words containing the merged
    pair are re-segmented each step — keeps training
    O(num_merges × affected-words), not O(num_merges × vocabulary)."""
    words: list[list[str]] = []
    counts: list[int] = []
    for w, c in word_counts:
        if not w or c <= 0:
            continue
        words.append([*w, END])
        counts.append(int(c))

    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        c = counts[i]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += c
            where[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for pair, c in pair_counts.items():
            if c < 2:
                continue
            key = (-c, pair)
            if best is None or key < best:
                best = key
        if best is None:
            break
        pair = best[1]
        merges.append(pair)
        a, b = pair
        merged = a + b
        for i in sorted(where[pair]):
            syms = words[i]
            c = counts[i]
            # remove this word's contribution, re-segment, re-add
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= c
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                where[p].discard(i)
            out = []
            j = 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            for p in zip(out, out[1:]):
                pair_counts[p] += c
                where[p].add(i)
    return merges


def merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {p: r for r, p in enumerate(merges)}


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style encode: repeatedly merge the lowest-rank pair
    present (all its occurrences, left to right) until no learned pair
    remains. Deterministic for a fixed rank table."""
    syms = [*word, END]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        a, b = best_pair
        merged = a + b
        out = []
        j = 0
        while j < len(syms):
            if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                out.append(merged)
                j += 2
            else:
                out.append(syms[j])
                j += 1
        syms = out
    return syms


def merges_md5(merges: list[tuple[str, str]]) -> str:
    """Stable fingerprint of a merge table — the reproducibility pin
    (same corpus + params ⇒ same md5, asserted in tests against the
    pure-Python replay)."""
    payload = "\n".join(f"{a}\x00{b}" for a, b in merges)
    return hashlib.md5(payload.encode()).hexdigest()


def tokenize_py(text: str) -> list[str]:
    """Pure-Python twin of the Spark-side
    ``regexp_extract_all(lower(text), TOKEN_RE)`` (corpus is ASCII;
    both lower() agree on ASCII by definition)."""
    import re

    return re.findall(TOKEN_RE, text.lower())


# ---------------------------------------------------------------------------
# Spark path
# ---------------------------------------------------------------------------


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) over the corpus — ONE map-side-combined
    aggregate; the exploded word rows stay in their parent's
    partition, so partial aggregation collapses each partition to its
    own vocabulary before the exchange."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0)
    )
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int = 200,
    max_words: int = 20_000,
    cache_key: str | None = None,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from the corpus. The driver
    materialization is the deterministic top-``max_words`` slice of
    the word-frequency table (count desc, word asc — training on the
    most frequent words is the standard practice and bounds the
    collect regardless of corpus size; at 100 TB the vocabulary
    aggregate is the only corpus-sized work and it is one shuffle).

    ``cache_key`` (the ``data_cache_key`` convention — it must
    fingerprint the exact input frame, see diskcache.cached_parquet)
    persists the learned merges per corpus so the train pass runs
    once per corpus version."""

    def learn() -> list[tuple[str, str]]:
        wc = (
            word_counts(df, text_col)
            .orderBy(F.col("cnt").desc(), F.col("word"))
            .limit(max_words)
            .collect()
        )
        return learn_merges([(r["word"], r["cnt"]) for r in wc], num_merges)

    if cache_key is None:
        return learn()
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from raft_c_spark.functions import diskcache

    def write(staging: str) -> None:
        merges = learn()
        _os.makedirs(staging)
        # explicit schema: an EMPTY merge list (degenerate corpus
        # where no pair repeats) must round-trip as string columns,
        # not pyarrow's inferred null type
        pq.write_table(
            pa.table(
                {
                    "a": pa.array([a for a, _ in merges], pa.string()),
                    "b": pa.array([b for _, b in merges], pa.string()),
                }
            ),
            _os.path.join(staging, "merges.parquet"),
        )

    t = pq.read_table(
        diskcache.materialize(
            f"bpemerges_{cache_key}_{text_col}"
            f"_m{num_merges}_w{max_words}_v{BPE_VERSION}",
            write,
        )
    )
    return list(zip(t["a"].to_pylist(), t["b"].to_pylist()))


def bpe_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Per-document BPE token counts under a learned merge table:
    (id, n_words, n_bpe_tokens), one row per input document (empty
    docs count 0/0).

    Scale shape: the corpus stream is tokenized map-side and exploded
    to (doc, word); the DISTINCT-word frame (vocabulary-sized after a
    map-side-combined aggregate) is encoded by a vectorized Arrow
    kernel carrying the ~kB rank table in its closure — per-word
    Python work is bounded by the vocabulary, never the corpus — and
    the resulting word→n_tokens map joins back broadcast under the
    measured row cap (shuffle equi-join fallback above, where AQE
    skew-splits hot words; deliberately NOT bloom-prefiltered — the
    encoded table is built from this same corpus' distinct words, so
    every probe word hits and a bloom provably prunes zero rows
    while adding an Arrow pass over the corpus word stream — see the
    over-cap join-back table in SCALING.md). Final
    per-doc aggregate partial-combines map-side. Construction is EAGER (the measured-cap count on the
    encoded vocabulary — same convention as dedup_exact)."""
    from raft_c_spark.operators.dedup import _BROADCAST_MAX_BANDED_ROWS

    ranks = merge_ranks(merges)
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0)
    )
    base = _widen(
        df.select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
    )
    occ = base.select("_doc", F.explode("_toks").alias("word"))
    distinct_words = occ.groupBy("word").agg(
        F.count(F.lit(1)).alias("_occ")
    ).drop("_occ")

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_tokens": [
                        len(encode_word(w, ranks)) for w in pdf["word"]
                    ],
                }
            )

    encoded = distinct_words.mapInPandas(
        _encode, "word string, n_tokens int"
    )

    from pyspark.storagelevel import StorageLevel

    encoded = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    side = encoded
    if encoded.count() <= _BROADCAST_MAX_BANDED_ROWS:
        side = F.broadcast(encoded)

    per_doc = (
        occ.join(side, "word")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )
    # docs with zero words (empty/non-matching text) still get a row
    return (
        df.select(F.col(id_col).alias("_doc"))
        .join(per_doc, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
