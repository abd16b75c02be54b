"""Bit-parity of the r10 Arrow scan kernels against the legacy
broadcast-join/expression forms they replaced: brute_force_topk,
ivf_topk, and the fused exact-rerank tier of pq_topk / ivfpq_topk must
return byte-identical rows (same cosine doubles, same ranks) — the
scan kernels accumulate dimension-by-dimension in Catalyst's exact
fold order, so this is equality, not tolerance."""

import pytest

from aqueducts_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb100(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(100)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(4)


@pytest.fixture(scope="module")
def queries5(spark):
    import random

    rng = random.Random(11)
    rows = [
        (100 + i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(5)
    ]
    return spark.createDataFrame(
        rows, "query_id long, embedding array<float>"
    )


def _ab(monkeypatch, build):
    new = sorted(map(tuple, build().collect()))
    monkeypatch.setattr(S, "_FORCE_JOIN_PATHS", True)
    old = sorted(map(tuple, build().collect()))
    monkeypatch.setattr(S, "_FORCE_JOIN_PATHS", False)
    assert new == old
    assert len(new) > 0


def test_brute_force_scan_matches_join(monkeypatch, emb100, queries5):
    _ab(monkeypatch, lambda: S.brute_force_topk(emb100, queries5, k=7))


def test_brute_force_null_component_ranks_last_both_paths(
    monkeypatch, spark
):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [None, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    _ab(monkeypatch, lambda: S.brute_force_topk(corpus, queries, k=3))
    rows = S.brute_force_topk(corpus, queries, k=3).orderBy("rank").collect()
    assert rows[-1].neighbor_id == 2 and rows[-1].cosine is None


def test_ivf_scan_matches_join(monkeypatch, emb100, queries5):
    cents = S.train_ivf_centroids(emb100, n_centroids=4, sample_size=100)
    _ab(
        monkeypatch,
        lambda: S.ivf_topk(
            emb100, queries5, k=5, nprobe=2, centroids=cents
        ),
    )


def test_pq_fused_rerank_matches_join(monkeypatch, emb100, queries5):
    books = S.train_pq(emb100, n_subspaces=4, n_centroids=8, sample_size=100)
    _ab(
        monkeypatch,
        lambda: S.pq_topk(emb100, queries5, books, k=5, rerank=20),
    )


def test_ivfpq_fused_rerank_matches_join(monkeypatch, emb100, queries5):
    for residual in (False, True):
        _ab(
            monkeypatch,
            lambda: S.ivfpq_topk(
                emb100,
                queries5,
                k=5,
                n_centroids=4,
                nprobe=2,
                n_subspaces=4,
                n_pq_centroids=8,
                rerank=20,
                by_residual=residual,
            ),
        )


def test_hybrid_precollected_query_matches_join(monkeypatch, spark, emb100):
    """hybrid_topk hands its driver-side query_vec straight to the scan
    kernel (no collect job): output must stay bit-equal to the forced
    join path, and a NaN query component must take the same
    broadcast-join fallback brute_force_topk takes."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i}") for i in range(100)],
        "doc_id long, text string",
    )
    qvec = [((i * 37) % 17 - 8) / 8.0 for i in range(16)]
    _ab(
        monkeypatch,
        lambda: S.hybrid_topk(
            docs, emb100, ["alpha", "beta"], qvec, k=5,
            lexical_k=10, vector_k=10,
        ),
    )
    nan_vec = qvec[:-1] + [float("nan")]
    a = S.hybrid_topk(
        docs, emb100, ["alpha"], nan_vec, k=5, lexical_k=10, vector_k=10
    ).collect()
    monkeypatch.setattr(S, "_FORCE_JOIN_PATHS", True)
    b = S.hybrid_topk(
        docs, emb100, ["alpha"], nan_vec, k=5, lexical_k=10, vector_k=10
    ).collect()
    monkeypatch.setattr(S, "_FORCE_JOIN_PATHS", False)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_brute_force_scan_raises_on_value_nan(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [float("nan"), 1.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    with pytest.raises(Exception) as exc:
        S.brute_force_topk(corpus, queries, k=2).collect()
    assert "NaN component" in str(exc.value)


def test_ann_recall_arms_rank_to_the_gate_depth(emb100, queries5):
    # the ANN gates' recall check: the exact arm ranks as deep as the
    # approx arm, at whatever k the gate uses
    import __spark_entry__ as entrymod

    approx, exact = entrymod._ann_recall_overlap(
        lambda: S.brute_force_topk(emb100, queries5, k=3), emb100, queries5, 3
    )
    assert exact.count() == approx.count() == 5 * 3
    assert entrymod._ann_recall(exact, approx) == 1.0
