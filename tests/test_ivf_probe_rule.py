"""The IVF probe rule (a query's top-nprobe centroids by cosine, ties to
the smaller centroid id) is shared by ivf_topk, ivf_filtered_topk and
ivf_topk_curve; these twins pin that the three agree with each other on
small in-test vectors, including a tied pair of centroids."""

from __future__ import annotations

import pytest

from pyspark_data_processing_challenge_spark.operators import similarity

DIM = 4
K = 3
NPROBES = (1, 2, 3, 5)


def _vectors(n: int, seed: int) -> list[list[float]]:
    """Deterministic small-integer vectors (LCG), none all-zero."""
    out, s = [], seed
    for _ in range(n):
        v = []
        for _ in range(DIM):
            s = (s * 1103515245 + 12345) % (1 << 31)
            v.append(float(s % 11 - 5))
        out.append(v if any(v) else [1.0] * DIM)
    return out


@pytest.fixture(scope="module")
def frames(spark):
    corpus_vecs = _vectors(40, seed=7)
    corpus = spark.createDataFrame(
        [(i, v, 1) for i, v in enumerate(corpus_vecs)],
        "vec_id long, embedding array<double>, label int",
    )
    # centroids 3 and 4 are identical: every query ties on them
    cents = _vectors(4, seed=99)
    cents.append(list(cents[3]))
    centroids = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], "vec_id long, embedding array<double>"
    )
    # queries 0..5 are corpus members (self-matches must be excluded),
    # 100..103 are not
    qrows = [(i, corpus_vecs[i], 1) for i in range(6)]
    qrows += [(100 + j, v, 1) for j, v in enumerate(_vectors(4, seed=3))]
    queries = spark.createDataFrame(
        qrows, "vec_id long, embedding array<double>, want int"
    )
    return corpus, queries, centroids


def _rows(df) -> set[tuple]:
    return {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in df.select("query_id", "neighbor_id", "cosine", "rank").collect()
    }


@pytest.mark.parametrize("nprobe", [1, 2, 4])
def test_filtered_topk_with_passing_filter_equals_topk(frames, nprobe):
    corpus, queries, centroids = frames
    plain = _rows(
        similarity.ivf_topk(
            corpus.drop("label"), queries.drop("want"), centroids, k=K, nprobe=nprobe
        )
    )
    filtered = _rows(
        similarity.ivf_filtered_topk(corpus, queries, centroids, k=K, nprobe=nprobe)
    )
    assert plain  # the probe found candidates at every depth
    assert filtered == plain


def test_curve_rows_equal_topk_at_each_depth(frames):
    corpus, queries, centroids = frames
    corpus, queries = corpus.drop("label"), queries.drop("want")
    curve = similarity.ivf_topk_curve(
        corpus, queries, centroids, k=K, nprobes=NPROBES
    ).collect()
    for p in NPROBES:
        at_p = {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in curve
            if r["nprobe"] == p
        }
        assert at_p == _rows(
            similarity.ivf_topk(corpus, queries, centroids, k=K, nprobe=p)
        ), p
