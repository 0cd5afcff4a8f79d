"""LSH band splits: every near-dup operator bands through one helper, so
the persisted band-key format is pinned once here, and splits that would
degrade banding into an all-pairs join (zero-width bands) or silently
drop signature slots (a remainder) are rejected up front."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark.operators import dedup

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs today",
    "sphinx of black quartz judge my solemn vow now",
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def test_unrelated_docs_have_no_pairs_at_a_valid_split(docs):
    pairs = dedup.minhash_near_duplicates(
        docs, "text", "doc_id", num_hashes=16, bands=4, threshold=0.0
    )
    assert pairs.count() == 0


@pytest.mark.parametrize("num_hashes,bands", [(4, 8), (16, 5), (16, 0)])
def test_minhash_rejects_bad_band_split(docs, num_hashes, bands):
    # (4, 8) used to give empty band keys: all 3 unrelated docs paired
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_near_duplicates(
            docs, "text", "doc_id", num_hashes=num_hashes, bands=bands, threshold=0.0
        )


def test_incremental_and_bbit_reject_bad_band_split(spark, docs):
    empty = spark.createDataFrame(
        [], "doc long, minhash array<bigint>, band int, key string"
    )
    with pytest.raises(ValueError, match="bands"):
        dedup.incremental_minhash_near_duplicates(
            docs, empty, "text", "doc_id", num_hashes=16, bands=3
        )
    with pytest.raises(ValueError, match="bands"):
        dedup.bbit_minhash_near_duplicates(
            docs, "text", "doc_id", num_hashes=32, bands=64
        )


def test_minhash_candidates_rejects_empty_bands(docs):
    sigs = dedup.with_minhash(docs, "text", num_hashes=8).select(
        F.col("doc_id").alias("doc"), "minhash"
    )
    with pytest.raises(ValueError, match="rows_per_band"):
        dedup.minhash_candidates(sigs, "doc", bands=8, rows_per_band=0)
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_candidates(sigs, "doc", bands=0, rows_per_band=4)


def test_simhash_rejects_more_bands_than_bits(docs):
    # 16 bands over 8 bits: zero-bit slices, every key 0, one bucket
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash_near_duplicates(
            docs, "text", "doc_id", bits=8, max_hamming=3, bands=16
        )


def test_band_key_format_is_dash_joined_slots(spark, docs):
    """The band store persists these strings: band b of a 16-slot,
    4-band signature is slots 4b..4b+3 as decimal, joined by '-'."""
    sigs = dedup.with_minhash(docs, "text", num_hashes=16).select(
        F.col("doc_id").alias("doc"), "minhash"
    )
    got = {
        (r["doc"], r["band"]): r["key"]
        for r in dedup._minhash_bands(sigs, "minhash", 16, 4).collect()
    }
    want = {
        (r["doc"], b): "-".join(str(v) for v in r["minhash"][4 * b : 4 * b + 4])
        for r in sigs.collect()
        for b in range(4)
    }
    assert got == want
