"""Unit tests for dedup operators: shingling edge cases and the
losslessness of prefix-filtered set-similarity join.

The parity suite (test_oracle_parity) checks these against DuckDB on
the synthetic corpus; here we pin the algorithmic guarantees on
adversarial micro-corpora where the edge cases are explicit.
"""

from __future__ import annotations

from itertools import combinations

import pyspark.sql.functions as F
import pytest

from sleep_edf_data_pipeline_spark.functions.hashing import PERM_P, perm_coeffs
from sleep_edf_data_pipeline_spark.operators.dedup import (
    minhash_lsh_dedup,
    minhash_lsh_dup_ids,
    ngram_jaccard_join,
    tokens,
    word_shingles,
)


def _shingle_set(text: str, n: int) -> set[str]:
    words = text.lower().split()
    if len(words) >= n:
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
    return {" ".join(words)}


def _brute_force(docs: list[tuple[int, str]], n: int, t: float):
    out = {}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        sa, sb = _shingle_set(ta, n), _shingle_set(tb, n)
        inter = len(sa & sb)
        union = len(sa | sb)
        j = inter / union if union else 0.0
        if j >= t:
            out[(ia, ib)] = round(j, 6)
    return out


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "a completely different document with no overlap at all"),
    (5, "the quick brown fox"),  # short; subset-ish of 1
    (6, "fox"),  # shorter than n -> single whole-doc shingle
    (7, "quick brown"),  # shorter than n
    (8, "quick brown"),  # dup of 7 at the short-doc path
    (9, "over the lazy dog jumps the quick brown fox"),  # permuted words
]


def test_word_shingles_n1_is_token_array(spark):
    df = spark.createDataFrame([("A b  C",)], "text string")
    out = df.select(
        word_shingles(tokens(F.col("text")), 1).alias("s"),
        tokens(F.col("text")).alias("t"),
    ).first()
    assert out.s == out.t == ["a", "b", "c"]


def test_word_shingles_golden(spark):
    df = spark.createDataFrame([("one two three four",), ("one two",)], "text string")
    got = [r.s for r in df.select(word_shingles(tokens(F.col("text")), 3).alias("s")).collect()]
    assert got == [["one two three", "two three four"], ["one two"]]


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_ngram_jaccard_join_matches_brute_force(spark, threshold):
    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_join(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert got == _brute_force(CORPUS, 3, threshold)


def test_ngram_jaccard_join_finds_exact_dups(spark):
    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_join(df, "doc_id", "text", n=3, threshold=0.99).collect()
    }
    assert got == {(1, 3): 1.0, (7, 8): 1.0}


# --- Skew helpers: salted plans must equal unsalted plans -------------------


def test_salted_agg_equals_plain(spark):
    from sleep_edf_data_pipeline_spark.operators.skew import salted_agg

    df = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"),  # 3 hot keys
        (F.col("id") * 7 % 101).alias("v"),
    )
    plain = {
        (r["k"],): (r["total"], r["n"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    salted = {
        (r["k"],): (r["total"], r["n"], r["lo"], r["hi"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "total": ("sum", "v"),
                "n": ("count", "v"),
                "lo": ("min", "v"),
                "hi": ("max", "v"),
            },
            n_salts=16,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_non_algebraic(spark):
    from sleep_edf_data_pipeline_spark.operators.skew import salted_agg

    df = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(df, ["k"], {"a": ("avg", "v")})


@pytest.mark.parametrize("how", ["inner", "left"])
def test_replicated_join_equals_plain(spark, how):
    from sleep_edf_data_pipeline_spark.operators.skew import replicated_join

    probe = spark.range(0, 5000).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("pv")
    )
    build = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "z")], "k long, bv string"
    )
    plain = sorted(
        (r["k"], r["pv"], r["bv"]) for r in probe.join(build, ["k"], how).collect()
    )
    salted = sorted(
        (r["k"], r["pv"], r["bv"])
        for r in replicated_join(probe, build, ["k"], n_salts=8, how=how).collect()
    )
    assert salted == plain


def test_cross_split_leakage_is_lsh_pairs_restricted(spark, sf_dir):
    """The leakage audit must be EXACTLY the LSH near-dup pairs whose
    md5-bucket splits differ — no pair invented, none lost, and the
    split labels must match the pure-projection rule used by
    dataset_split_stats (same assignment, same audit)."""
    import hashlib

    from sleep_edf_data_pipeline_spark.queries.dedup_queries import (
        q_cross_split_leakage,
        q_minhash_lsh_neardups,
    )

    def split_of(doc_id: int) -> str:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
        if h <= "b":
            return "train"
        if h in ("c", "d"):
            return "val"
        return "test"

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in q_minhash_lsh_neardups(spark, sf_dir).collect()
    }
    expected = {
        (a, b): j
        for (a, b), j in pairs.items()
        if split_of(a) != split_of(b)
    }
    audited = {}
    for r in q_cross_split_leakage(spark, sf_dir).collect():
        assert r["split_a"] == split_of(r["id_a"])
        assert r["split_b"] == split_of(r["id_b"])
        audited[(r["id_a"], r["id_b"])] = r["jaccard"]
    assert audited == expected


def _lsh_brute_force(docs, k=16, bands=4, rows=4, t=0.6):
    """Pure-Python MinHash-LSH pruning on unigram token-hash sets.

    Returns (ids that lose a verified pair, ids whose every bucket
    minimum fails the verify).  Band buckets are keyed on the exact
    signature slice (the operator keys on its xxhash64); every pair
    sharing one is verified exactly.
    """
    import hashlib
    import re

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sets = {i: {h64(w) for w in re.split(r"\s+", txt.lower())} for i, txt in docs}
    coeffs = perm_coeffs(k)
    buckets = {}
    for i, hs in sets.items():
        sig = [min((a * (h % PERM_P) + b) % PERM_P for h in hs) for a, b in coeffs]
        for band in range(bands):
            key = (band, tuple(sig[band * rows : (band + 1) * rows]))
            buckets.setdefault(key, []).append(i)

    def passes(a, b):
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        return round(inter / union, 6) >= t

    pruned, lowest = set(), {}
    for ids in buckets.values():
        for a, b in combinations(sorted(ids), 2):
            if passes(a, b):
                pruned.add(b)
        for b in ids:
            if b != min(ids):
                lowest.setdefault(b, set()).add(min(ids))
    need_pass2 = {b for b in pruned if not any(passes(m, b) for m in lowest[b])}
    return pruned, need_pass2


def test_minhash_lsh_dup_ids_is_lossless(spark):
    """The two-pass pruned-id set equals the all-candidates one and a
    brute force, on short documents over a tiny vocabulary (wide band
    buckets, the near-duplicate-heavy shape) where some pruned ids fail
    against every bucket minimum they share — so a pass-1-only
    regression would drop them."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(10)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8))))
        for i in range(1, 301)
    ]
    df = spark.createDataFrame(docs, "id long, text string")

    want, need_pass2 = _lsh_brute_force(docs)
    assert need_pass2, "corpus no longer exercises pass 2"
    got = {r[0] for r in minhash_lsh_dup_ids(df, "id", "text").collect()}
    all_pairs = {
        r[0] for r in minhash_lsh_dedup(df, "id", "text").select("id_b").distinct().collect()
    }
    assert got == all_pairs
    assert got == want
