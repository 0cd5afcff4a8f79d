"""The incremental near-dup operators (MinHash bands, pHash bands,
SemDeDup centroids) pair a new batch with ONE join of the broadcast
batch against (store ∪ batch): the store streams through a single scan
and is never shuffled, and a within-batch pair needs no second join.
Each case also replays a stored id in the batch, so the pair set pins
the within-batch pairs, the batch-vs-store pairs and the replay guard
(no id pairs with itself) at once."""

from __future__ import annotations

import pytest

from pyspark_data_processing_challenge_spark import plans
from pyspark_data_processing_challenge_spark.operators import (
    dedup,
    multimodal,
    similarity,
)

TEXT_A = "the quick brown fox jumps over the lazy dog near the river bank"
TEXT_B = "a slow green turtle walks under the bright moon by the old mill"


def _minhash_pairs(spark):
    empty = spark.createDataFrame(
        [], "doc long, minhash array<bigint>, band int, key string"
    )
    history = spark.createDataFrame([(10, TEXT_B)], "doc_id long, text string")
    _, store = dedup.incremental_minhash_near_duplicates(
        history, empty, "text", "doc_id"
    )
    batch = spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_A), (3, TEXT_B), (10, TEXT_B)],
        "doc_id long, text string",
    )
    pairs, _ = dedup.incremental_minhash_near_duplicates(
        batch, store.localCheckpoint(), "text", "doc_id"
    )
    return pairs, "est_jaccard", {(1, 2, 1.0), (3, 10, 1.0)}


def _phash_pairs(spark):
    schema = "media_id long, h_hi long, h_lo long"
    store = spark.createDataFrame(
        [(10, 0x55556666, 0x7777888B), (11, 0x0F0F0F0F, 0x0F0F0F0F)], schema
    )
    batch = spark.createDataFrame(
        [
            (1, 0x11112222, 0x33334444),
            (2, 0x11112222, 0x33334445),  # 1 bit from doc 1
            (3, 0x55556666, 0x77778888),  # 2 bits from stored doc 10
            (10, 0x55556666, 0x7777888B),  # replay of stored doc 10
        ],
        schema,
    )
    pairs, _ = multimodal.incremental_phash_near_duplicates(batch, store)
    return pairs, "hamming", {(1, 2, 1), (3, 10, 2)}


def _semdedup_pairs(spark):
    schema = "doc long, vec array<double>, centroid_id bigint"
    store = spark.createDataFrame(
        [(10, [0.0, 1.0], 1), (11, [1.0, 0.0], 1)], schema
    )
    batch = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 1),  # doc 11 shares the centroid, not the vector
            (10, [0.0, 1.0], 1),  # replay of stored doc 10
        ],
        schema,
    )
    pairs, _ = similarity.incremental_semdedup_pairs_assigned(
        batch, store, threshold=0.9
    )
    return pairs, "cosine", {(1, 2, 1.0), (3, 10, 1.0)}


@pytest.mark.parametrize(
    "build", [_minhash_pairs, _phash_pairs, _semdedup_pairs], ids=lambda f: f.__name__
)
def test_incremental_pairs_one_broadcast_join(spark, build):
    pairs, score, want = build(spark)
    plan = plans.executed_plan(pairs)
    assert plans.broadcast_join_count(pairs) == 1, plan
    assert plans.sort_merge_join_count(pairs) == 0, plan
    assert "ShuffledHashJoin" not in plan
    got = {(r["id_a"], r["id_b"], round(r[score], 9)) for r in pairs.collect()}
    assert got == want
