"""Deterministic splitting/sampling/bucketing (operators/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goetl_spark.operators.sampling import (
    hash_sample,
    hash_split,
    length_buckets,
    stratified_sample,
)


def _docs(spark):
    return spark.createDataFrame(
        [(i, "word " * (i % 200)) for i in range(500)], "doc_id long, text string"
    )


def test_hash_split_deterministic_and_complete(spark):
    d = _docs(spark)
    s1 = {r.doc_id: r.split for r in hash_split(d, "doc_id").collect()}
    s2 = {r.doc_id: r.split for r in hash_split(d, "doc_id").collect()}
    assert s1 == s2                       # pure function of the key
    assert set(s1.values()) == {"train", "val", "test"}
    frac_train = sum(1 for v in s1.values() if v == "train") / len(s1)
    assert 0.7 < frac_train < 0.9         # ~80%


def test_hash_split_stable_under_data_growth(spark):
    # adding rows must not move existing rows between splits
    d_small = _docs(spark).filter(F.col("doc_id") < 250)
    small = {r.doc_id: r.split for r in hash_split(d_small, "doc_id").collect()}
    full = {r.doc_id: r.split for r in hash_split(_docs(spark), "doc_id").collect()}
    assert all(full[k] == v for k, v in small.items())


def test_hash_split_validates_percents(spark):
    with pytest.raises(ValueError):
        hash_split(_docs(spark), "doc_id", {"a": 50, "b": 40})


def test_hash_sample_fraction(spark):
    d = _docs(spark)
    n = hash_sample(d, "doc_id", 0.2).count()
    assert 60 <= n <= 140                 # ~100 of 500
    # subset property: 10% sample ⊂ 20% sample (nested bucket ranges)
    s10 = {r.doc_id for r in hash_sample(d, "doc_id", 0.1).collect()}
    s20 = {r.doc_id for r in hash_sample(d, "doc_id", 0.2).collect()}
    assert s10 <= s20


def test_stratified_sample_runs(spark):
    d = _docs(spark).withColumn("label", (F.col("doc_id") % 2).cast("string"))
    out = stratified_sample(d, "label", {"0": 0.5, "1": 0.1})
    assert 0 < out.count() < 500


def test_length_buckets(spark):
    import re

    d = _docs(spark)
    rows = {r.doc_id: r.length_bucket
            for r in length_buckets(d).select("doc_id", "length_bucket").collect()}
    bounds = [64, 128, 256, 512, 1024]

    def expect(n):
        for i, b in enumerate(bounds):
            if n <= b:
                return i
        return len(bounds)

    # token_count uses split('\s+'), which KEEPS a trailing empty segment
    # ("word " -> ["word", ""]) — mirror that exactly
    for i in range(500):
        n = len(re.split(r"\s+", "word " * (i % 200)))
        assert rows[i] == expect(n), (i, n, rows[i])


def test_mix_sources(spark):
    from goetl_spark.operators.sampling import mix_sources

    a = _docs(spark)                                   # 500 docs
    b = _docs(spark).withColumn("doc_id", F.col("doc_id") + 1000)
    mixed = mix_sources([(a, 0.2), (b, 1.0)], "doc_id")
    n_a = mixed.filter(F.col("source") == 0).count()
    n_b = mixed.filter(F.col("source") == 1).count()
    assert n_b == 500                                  # weight 1.0 = keep all
    assert 60 <= n_a <= 140                            # ~20% of 500
    # deterministic: same mixture on re-run
    again = mix_sources([(a, 0.2), (b, 1.0)], "doc_id")
    assert {r.doc_id for r in mixed.collect()} == {r.doc_id for r in again.collect()}


def test_pack_sequences_bounded_overflow_and_determinism(spark):
    from goetl_spark.operators.sampling import pack_sequences

    rows = [(i, 50 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    budget, max_doc = 1000, 449

    out = pack_sequences(df, "n_tokens", budget, ("doc_id",),
                         num_partitions=4).collect()
    # every pack's sum stays under budget + the straddling doc
    sums = {}
    for r in out:
        sums[r.pack_id] = sums.get(r.pack_id, 0) + r.n_tokens
    assert all(s < budget + max_doc for s in sums.values())
    # packs are contiguous in doc order (cumsum formulation)
    by_doc = sorted((r.doc_id, r.pack_id) for r in out)
    assert all(a[1] <= b[1] for a, b in zip(by_doc, by_doc[1:]))

    # partitioning-independent: 1 partition == 4 partitions
    one = sorted((r.doc_id, r.pack_id) for r in pack_sequences(
        df, "n_tokens", budget, ("doc_id",), num_partitions=1).collect())
    assert one == by_doc
    # matches the plain exclusive-cumsum definition
    run, want = 0, {}
    for i, t in rows:
        want[i] = run // budget
        run += t
    assert dict(by_doc) == want


def test_temperature_weights():
    import math

    import pytest as _pt

    from goetl_spark.operators.sampling import temperature_weights

    sizes = [1000.0, 100.0, 10.0]
    # T=1: natural proportions -> keep everything
    assert temperature_weights(sizes, 1.0) == [1.0, 1.0, 1.0]
    # large T: tends to uniform contributions -> big corpora downsampled
    w = temperature_weights(sizes, 100.0)
    assert w[2] == 1.0 and w[0] < w[1] < 1.0
    assert math.isclose(1000 * w[0], 10 * w[2], rel_tol=0.15)
    # T<1 skews toward the big corpus: smaller kept-fraction for small ones
    w_low = temperature_weights(sizes, 0.5)
    assert w_low[0] == 1.0 and w_low[2] < w_low[1] < 1.0
    with _pt.raises(ValueError):
        temperature_weights(sizes, 0.0)
    with _pt.raises(ValueError):
        temperature_weights([0.0], 1.0)


# --- sentence-aligned chunking (sampling.chunk_by_sentences) -----------------

def test_chunk_by_sentences_hand_computed(spark):
    """Budget-aligned assignment: sentence i joins chunk
    floor(tokens_before/budget); sentences never split, a chunk may
    overflow the budget by less than one sentence."""
    from goetl_spark.operators.sampling import chunk_by_sentences

    df = spark.createDataFrame(
        [(0, "one two three. four five six! seven eight nine? ten."),
         (1, "only one sentence here")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["chunk_id"]): r
           for r in chunk_by_sentences(df, budget_tokens=5).collect()}
    # doc0 sentence tokens: 3,3,3,1 -> before: 0,3,6,9 -> chunks 0,0,1,1
    c00, c01 = out[(0, 0)], out[(0, 1)]
    assert c00["text"] == "one two three. four five six!"
    assert (c00["n_sentences"], c00["n_tokens"]) == (2, 6)
    assert c01["text"] == "seven eight nine? ten."
    assert (c01["n_sentences"], c01["n_tokens"]) == (2, 4)
    assert out[(1, 0)]["text"] == "only one sentence here"
    assert len(out) == 3

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_by_sentences(df, budget_tokens=0)


def test_chunk_by_sentences_order_and_coverage(spark):
    """Chunk texts concatenated in chunk order reproduce the sentence
    stream — nothing lost, duplicated, or reordered — regardless of
    input partitioning."""
    from goetl_spark.operators.sampling import chunk_by_sentences

    text = " ".join(f"word{i} stays here number {i}." for i in range(40))
    df = spark.createDataFrame([(0, text)],
                               "doc_id long, text string").repartition(8)
    rows = sorted(chunk_by_sentences(df, budget_tokens=12).collect(),
                  key=lambda r: r["chunk_id"])
    rebuilt = " ".join(r["text"] for r in rows)
    assert rebuilt == text
    # aligned rule: chunk k owns sentences with before in [12k, 12k+12),
    # so the chunk count is exactly ceil(total_tokens / budget)
    total = sum(r["n_tokens"] for r in rows)
    assert len(rows) == -(-total // 12)
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))


def test_chunk_by_sentences_coverage_property(spark):
    """Hypothesis-style coverage over assorted punctuation/whitespace
    shapes (fixed corpus — one Spark job, not one per example): for
    every doc, chunk texts joined in chunk order rebuild exactly the
    sentence stream joined with single spaces."""
    from pyspark.sql import functions as F

    from goetl_spark.operators.sampling import chunk_by_sentences
    from goetl_spark.operators.text import split_sentences

    texts = [
        "One. Two! Three? Four.",
        "No terminator at all just words",
        "Trailing terminator.",
        "Multi   spaces.  And\nnewlines! ok?",
        "Ellipsis... then more!!! done?? yes.",
        "a. b. c. d. e. f. g. h. i. j.",
        "x" * 300 + ". short.",
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    expected = {r["doc_id"]: r["s"] for r in
                df.select("doc_id",
                          F.array_join(split_sentences("text"), " ")
                          .alias("s")).collect()}
    rows = chunk_by_sentences(df, budget_tokens=3).collect()
    rebuilt: dict[int, list] = {}
    for r in rows:
        rebuilt.setdefault(r["doc_id"], []).append((r["chunk_id"], r["text"]))
    for did, parts in rebuilt.items():
        got = " ".join(t for _, t in sorted(parts))
        assert got == expected[did], did
    assert set(rebuilt) == set(expected)


# --- leakage-safe split / token-budget sampling (new r9) --------------------

def test_leakage_safe_split_groups_never_straddle(spark):
    """Every member of a near-dup cluster gets the SAME split; the
    cluster's split equals hash_split of its min-id group key; and
    singletons match plain hash_split of their own id."""
    from goetl_spark.operators.sampling import hash_split, leakage_safe_split

    docs = spark.createDataFrame([(i, f"text {i}") for i in range(40)],
                                 "doc_id long, text string")
    # clusters {0..3}, {10,11}, rest singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in
           leakage_safe_split(docs, pairs).collect()}
    assert len({out[i]["split"] for i in (0, 1, 2, 3)}) == 1
    assert out[10]["split"] == out[11]["split"]
    assert all(out[i]["split_group"] == 0 for i in (0, 1, 2, 3))
    assert out[10]["split_group"] == out[11]["split_group"] == 10

    plain = {r["doc_id"]: r["split"]
             for r in hash_split(docs, "doc_id").collect()}
    for i in out:
        if i not in (0, 1, 2, 3, 10, 11):  # singletons
            assert out[i]["split"] == plain[i], i
    # cluster split == the group key's own hash bucket assignment
    assert out[0]["split"] == plain[0]
    assert out[10]["split"] == plain[10]


def test_sample_to_token_budget_bound_and_determinism(spark):
    from goetl_spark.operators.sampling import sample_to_token_budget

    df = spark.createDataFrame(
        [(i, f"d{i}", 10 + (i % 7)) for i in range(100)],
        "doc_id long, text string, n_tok int")
    kept = sample_to_token_budget(df, "n_tok", budget=300)
    rows = kept.collect()
    total = sum(r["n_tok"] for r in rows)
    max_doc = 16
    assert 300 <= total < 300 + max_doc
    # deterministic: identical doc set on a second run
    again = {r["doc_id"] for r in
             sample_to_token_budget(df, "n_tok", budget=300).collect()}
    assert again == {r["doc_id"] for r in rows}
    # different salt -> (almost surely) different prefix, same bound
    other = sample_to_token_budget(df, "n_tok", budget=300, salt="s2")
    tot2 = sum(r["n_tok"] for r in other.collect())
    assert 300 <= tot2 < 300 + max_doc
    # tiny budget keeps exactly the first hash-ordered doc
    one = sample_to_token_budget(df, "n_tok", budget=1).collect()
    assert len(one) == 1


def test_mix_token_budget_shares(spark):
    from goetl_spark.operators.sampling import mix_token_budget

    a = spark.createDataFrame([(i, 10) for i in range(200)],
                              "doc_id long, n_tok int")
    b = spark.createDataFrame([(i, 10) for i in range(1000, 1200)],
                              "doc_id long, n_tok int")
    out = mix_token_budget([(a, 0.7), (b, 0.3)], "n_tok",
                           total_budget=1000)
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src[r["source"]] = by_src.get(r["source"], 0) + r["n_tok"]
    assert 700 <= by_src[0] < 710 and 300 <= by_src[1] < 310
    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        mix_token_budget([(a, 0.7), (b, 0.2)], "n_tok", 100)
    with pytest.raises(ValueError, match="positive"):
        mix_token_budget([(a, 1.5), (b, -0.5)], "n_tok", 100)
    # a positive share that rounds to a zero-token budget raises
    with pytest.raises(ValueError, match="budget must be > 0"):
        mix_token_budget([(a, 0.999), (b, 0.001)], "n_tok", 100)
