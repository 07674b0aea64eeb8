"""Planted-fixture tests for the LLM-pipeline operators: fuzzy dedup
finds planted near-duplicates, LSH ANN recalls true neighbors, text
operators score known inputs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from realestate_engine.dedup import (
    cosine_sim,
    minhash_lsh_candidates,
    simhash32,
    word_shingles,
)
from realestate_engine.similarity import brute_force_topk, lsh_bucket
from realestate_engine.registry import QUERIES, load_all

load_all()

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),  # near-dup of 0
        (2, BASE),  # exact dup of 0
        (3, "completely different text about spark query engines and distributed joins entirely"),
        (4, "yet another unrelated document mentioning parquet files and shuffle partitions only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles_count_and_dedup(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "x x x x x")], "id long, text string")
    out = {r.id: r.sh for r in df.select("id", word_shingles(F.col("text")).alias("sh")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == ["x x x"]  # distinct shingles
    # short text → no shingles, not a crash
    short = spark.createDataFrame([(3, "one two")], "id long, text string")
    assert short.select(word_shingles(F.col("text")).alias("sh")).first().sh == []


def test_minhash_lsh_finds_planted_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()}
    assert (0, 2) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 2) in pairs  # near-dup collides in ≥1 band
    # unrelated docs must not flood the candidate set
    assert (3, 4) not in pairs


def test_simhash_exact_dup_same_fingerprint(docs):
    out = {r.doc_id: r.h for r in docs.select("doc_id", simhash32(F.col("text")).alias("h")).collect()}
    assert out[0] == out[2]
    ham = bin(out[0] ^ out[1]).count("1")
    assert ham <= 8  # near-dup: small hamming distance
    assert bin(out[0] ^ out[3]).count("1") > ham


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = [(i, vec(0.03 * i)) for i in range(50)] + [(99, vec(3.14))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(vectors):
    probe = vectors.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe_vec"))
    top = brute_force_topk(vectors, probe, k=5).collect()
    assert top[0].vec_id == 0 and top[0].cosine == pytest.approx(1.0)
    assert [r.vec_id for r in top[1:3]] == [1, 2]  # nearest angles first
    assert all(r.cosine <= 1.0 + 1e-9 for r in top)


def test_lsh_recall_vs_exact(vectors):
    # neighbors by angle land in the same hyperplane bucket far more
    # often than the antipodal point
    b = vectors.select("vec_id", lsh_bucket(F.col("embedding"), bits=4).alias("bucket"))
    buckets = {r.vec_id: r.bucket for r in b.collect()}
    same = sum(1 for i in range(1, 6) if buckets[i] == buckets[0])
    assert same >= 3
    assert buckets[99] != buckets[0]


def test_lsh_bucket_rejects_vectors_past_the_sign_literal(spark):
    """Signs are precomputed for _LSH_MAX_DIM (256) dimensions. A longer
    vector fails the query instead of silently landing in bucket 0."""
    def bucket(dim):
        df = spark.createDataFrame([([1.0] * dim,)], "v array<double>")
        return df.select(lsh_bucket(F.col("v"), bits=4).alias("b")).collect()[0].b

    assert 0 <= bucket(256) < 16
    with pytest.raises(Exception, match="exceeds 256"):
        bucket(257)


def test_cosine_sim_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<float>, b array<float>",
    )
    vals = [r.c for r in df.select(cosine_sim(F.col("a"), F.col("b")).alias("c")).collect()]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0, abs=1e-9)


def test_text_langid_shape(spark, sf_dir):
    out = QUERIES["text_langid"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 500
    assert set(out.columns) == {"doc_id", "predicted_lang", "confidence"}
    assert all(0.0 <= r.confidence <= 1.0 for r in rows)


def test_dedup_keep_newest_one_per_key(spark, sf_dir):
    out = QUERIES["dedup_keep_newest"](spark, sf_dir)
    assert out.count() == out.select("o_custkey").distinct().count()


def test_canonical_selection_invariants(spark, sf_dir):
    """Exactly one canonical doc per cluster; every clustered doc gets
    a verdict; canonicals have the max token count in their cluster."""
    from pyspark.sql import functions as F

    from realestate_engine.registry import QUERIES, load_all

    load_all()
    out = QUERIES["dedup_canonical_selection"](spark, sf_dir).cache()
    one_keep = out.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep")
    )
    assert one_keep.filter(F.col("n_keep") != 1).count() == 0
    assert out.filter(F.col("cluster_size") > 1).count() > 0  # real dup clusters exist
    out.unpersist()


def test_hll_sketch_rollup_error_bound(spark, sf_dir):
    """Per-group HLL estimates stay within 5% of exact; the unioned
    ALL estimate stays within 5% of the global exact distinct."""
    from pyspark.sql import functions as F

    from realestate_engine.registry import QUERIES, load_all, t as load_table

    load_all()
    rows = QUERIES["a18_hll_sketch_rollup"](spark, sf_dir).collect()
    per = [r for r in rows if r.o_orderpriority != "ALL"]
    assert per and all(r.est_within_5pct for r in per)
    assert all(r.exact_distinct > 0 for r in per)
    global_exact = (
        load_table(spark, sf_dir, "orders").agg(F.countDistinct("o_custkey")).first()[0]
    )
    all_row = [r for r in rows if r.o_orderpriority == "ALL"][0]
    assert all_row.est_within_5pct
    assert all_row.exact_distinct == global_exact


def test_twostar_cc_matches_propagation_and_handles_chains(spark, sf_dir):
    from pyspark.sql import functions as F

    from realestate_engine.dedup import (
        _dup_pairs,
        connected_components,
        connected_components_twostar,
    )

    # agreement on the real near-dup graph
    pairs = _dup_pairs(spark, sf_dir)
    a = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    b = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_twostar(pairs).collect()
    }
    assert a == b and a

    # a 64-node chain + an isolated pair: worst case for diameter-bound
    # propagation, ~log rounds for two-star
    chain = spark.range(63).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    extra = spark.sql("SELECT 1000 AS id_a, 1001 AS id_b")
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_twostar(chain.union(extra)).collect()
    }
    want = {(i, 0) for i in range(64)} | {(1000, 1000), (1001, 1000)}
    assert got == want


def test_incremental_minhash_equals_cross_split_full_lsh(spark, sf_dir):
    inc = {
        (min(r.new_id, r.corpus_id), max(r.new_id, r.corpus_id)): r.jaccard
        for r in QUERIES["dedup_minhash_incremental"](spark, sf_dir).collect()
    }
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
        # keep only pairs with exactly one side in the "new batch"
        if (r.id_a % 10 == 0) != (r.id_b % 10 == 0)
    }
    assert inc == full and inc


def test_leakage_safe_split_never_splits_a_cluster(spark, sf_dir):
    """No near-dup cluster may straddle train and test, every eligible
    doc is assigned exactly once, and both splits are non-empty at
    sf0.001's duplicate density."""
    from realestate_engine.registry import QUERIES

    rows = QUERIES["dedup_leakage_safe_split"](spark, sf_dir).collect()
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("n_chars <= 200")
        .count()
    )
    assert len(rows) == n_docs
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_cluster.values())
    splits = {r["split"] for r in rows}
    assert splits == {"train", "test"}
