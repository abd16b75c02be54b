"""Similarity search over embedding columns (``array<float>``).

Two tiers:

* :func:`brute_force_topk` — exact cosine top-k; the baseline. The
  query side is broadcast (it is small by definition), so the corpus is
  scanned exactly once with no shuffle of the corpus at all; top-k per
  query is a ``row_number`` window over (query, cosine).
* :func:`hyperplane_lsh` / :func:`lsh_topk` — random-hyperplane LSH:
  sign-bit signatures bucket the corpus; candidates come from an
  equi-join on the bucket key, so at 100 TB only same-bucket vectors
  are compared. Recall is tunable with ``num_planes`` / multi-probe.

All arithmetic is built-in ``aggregate``/``zip_with`` — JVM-side
codegen, no Python in the hot path. Hyperplanes are generated from a
fixed seed so results are deterministic and reproducible.

Hot-loop shape: every top-k path projects each side's L2 norm ONCE per
row below the join (``__qn``/``__cn``) — the naive per-pair
``cosine_similarity(q, c)`` recomputes two O(D) folds for every joined
pair, tripling the arithmetic. Zero-norm vectors score 0 via an
epsilon-guarded divisor instead of aborting the job (Spark 4 runs ANSI
mode by default, where a plain ``/ 0.0`` raises DIVIDE_BY_ZERO);
NULL embeddings are filtered on both sides (they have no geometry).
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "dot",
    "l2_norm",
    "cosine_similarity",
    "brute_force_topk",
    "quantized_topk",
    "random_hyperplanes",
    "hyperplane_lsh",
    "lsh_topk",
    "train_ivf_centroids",
    "ivf_assign",
    "ivf_topk",
    "ivf_persist",
    "ivf_topk_persisted",
    "train_pq",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
    "pq_persist",
    "ivfpq_topk_persisted",
    "rrf_fuse",
    "hybrid_topk",
]

# divisor floor: zero-norm vectors score ~0 instead of raising
# DIVIDE_BY_ZERO under ANSI mode; same guard _centroid_scorer uses
_NORM_EPS = 1e-12

# test escape hatch: force the legacy broadcast-join/expression forms
# of brute_force_topk / ivf_topk / the _adc_search rerank tier so the
# parity suite can pin the Arrow scan kernels bit-equal against them
# (never set in production code)
_FORCE_JOIN_PATHS = False


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(l2_norm(a) * l2_norm(b), F.lit(_NORM_EPS))


def _score_pairs(joined: DataFrame) -> DataFrame:
    """(query_id, qvec, __qn) x (neighbor_id, cvec, __cn) -> cosine,
    using the per-row norms projected below the join."""
    return joined.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("qvec"), F.col("cvec"))
            / F.greatest(F.col("__qn") * F.col("__cn"), F.lit(_NORM_EPS))
        ).alias("cosine"),
    )


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Shared per-query ranking: ties broken by neighbour id."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
    )


def _query_side(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    return (
        queries.where(F.col(vec_col).isNotNull())
        .select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
        .withColumn("__qn", l2_norm(F.col("qvec")))
    )


def _corpus_side(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return (
        corpus.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
        .withColumn("__cn", l2_norm(F.col("cvec")))
    )


def _empty_topk(corpus: DataFrame, queries: DataFrame, id_col: str, query_id_col: str) -> DataFrame:
    """Empty result with the SAME id types the non-empty path produces
    (a hard-coded long schema broke string-id pipelines on empty data)."""
    from pyspark.sql import types as T

    qt = queries.schema[query_id_col].dataType
    ct = corpus.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", qt),
            T.StructField("neighbor_id", ct),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return corpus.sparkSession.createDataFrame([], schema)


def _seq_cosine_block(X, q, qn):
    """Cosine of every row of ``X`` against ``q`` with EXACTLY the
    floating-point evaluation order of the Catalyst expression
    ``dot(a,b)/greatest(l2_norm(a)*l2_norm(b), eps)`` (:func:`dot` /
    :func:`l2_norm` fold left-to-right over the array with a 0.0
    accumulator), so results are bit-identical to the expression path
    — the accumulation runs dimension-by-dimension, vectorized over
    rows, never through numpy's pairwise-summation ``dot``."""
    B, D = X.shape
    num = np.zeros(B)
    cn2 = np.zeros(B)
    for d in range(D):
        xd = X[:, d]
        num = num + xd * q[d]
        cn2 = cn2 + xd * xd
    cn = np.sqrt(cn2)
    return num / np.maximum(qn * cn, _NORM_EPS)


def _seq_norms(Q):
    """Per-row l2 norms of ``Q`` in :func:`l2_norm`'s exact fold order."""
    acc = np.zeros(len(Q))
    for d in range(Q.shape[1]):
        qd = Q[:, d]
        acc = acc + qd * qd
    return np.sqrt(acc)


def _exact_scan_candidates(
    corpus_rel: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    qids: list,
    Q: "np.ndarray",
    kk: int,
    id_col: str,
    query_id_col: str,
    probe_sets=None,
    check_nulls: bool = False,
    assign_centroids: Optional["np.ndarray"] = None,
) -> DataFrame:
    """Exact-cosine candidate scan shared by :func:`brute_force_topk`
    and :func:`ivf_topk`: ONE ``mapInPandas`` over the corpus relation
    (``neighbor_id, cvec[, __cid]``) with the collected query matrix in
    the task closure.  ``assign_centroids`` computes each row's coarse
    assignment INSIDE this same scan (:func:`_assign_topn_block` — the
    byte-identical arithmetic :func:`ivf_assign` runs) instead of a
    separate pandas_udf crossing upstream: the corpus vectors cross
    the JVM↔Python boundary ONCE (guide §4), and the plan drops an
    ArrowEvalPython node — no pair materialization, no per-pair interpreted
    HOF evaluation, and each partition emits only its exact local
    top-``kk`` per query under the global (cosine desc, id asc) total
    order, so the window downstream ranks partitions x queries x kk
    rows instead of every scored pair.  Cosines are bit-identical to
    the expression path (:func:`_seq_cosine_block`).

    ``check_nulls=True`` reproduces the expression path's NULL
    ordering for corpus vectors with NULL components (Catalyst: NULL
    cosine ranks LAST under desc); callers whose corpus side already
    validates components (ivf_assign / pq_encode raise) skip the flag
    column.  A literal NaN VALUE in a corpus vector raises loudly:
    the Arrow boundary cannot round-trip value-NaN distinctly from
    NULL, and Catalyst ranks the two at opposite ends — a loud error
    beats a silently engine-specific ranking (the broadcast-join form
    still serves such corpora).
    """
    import pandas as pd
    from pyspark.sql import types as T

    qn = _seq_norms(Q)
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if check_nulls:
        # native (codegen) null-component flag: the Arrow transfer
        # collapses NULL elements to NaN, which Catalyst ranks at the
        # OPPOSITE end from a true NaN value — the flag disambiguates
        corpus_rel = corpus_rel.withColumn(
            "__nullc",
            F.size(F.array_compact(F.col("cvec"))) != F.size(F.col("cvec")),
        )

    def score_partition(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["cvec"]]
            )
            ids = pdf["neighbor_id"].to_numpy()
            if probe_sets is None:
                cids = None
            elif assign_centroids is not None:
                # fused coarse assignment: same block the ivf_assign
                # UDF evaluates, so cluster choice is bit-identical
                # (raises the same NULL/NaN error the UDF raised)
                cids = _assign_topn_block(X, assign_centroids, 1)[:, 0]
            else:
                cids = pdf["__cid"].to_numpy()
            nan_rows = np.isnan(X).any(axis=1)
            nullc = (
                pdf["__nullc"].to_numpy(dtype=bool)
                if check_nulls
                else np.zeros(len(X), dtype=bool)
            )
            if (nan_rows & ~nullc).any():
                raise ValueError(
                    "exact cosine scan: corpus vector contains a literal "
                    "NaN component — clean or impute it (NULL components "
                    "are supported and rank last)"
                )
            has_null = nullc.any()
            outs = []
            for qi in range(len(qids)):
                if probe_sets is not None:
                    mask = np.isin(cids, probe_sets[qi])
                    if not mask.any():
                        continue
                    q_X, q_ids, q_null = X[mask], ids[mask], nullc[mask]
                else:
                    q_X, q_ids, q_null = X, ids, nullc
                cos = _seq_cosine_block(q_X, Q[qi], qn[qi])
                if has_null:
                    key = np.where(q_null, np.inf, -cos)
                else:
                    key = -cos
                order = np.lexsort((q_ids, key))[:kk]
                if has_null:
                    cos_out = cos[order].astype(object)
                    cos_out[q_null[order]] = None
                else:
                    cos_out = cos[order]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": [qids[qi]] * len(order),
                            "neighbor_id": q_ids[order],
                            "cosine": cos_out,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return corpus_rel.mapInPandas(score_partition, out_schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 4096,
    method: str = "auto",
) -> DataFrame:
    """Exact top-k neighbours for every query vector.

    Bounded query sets (the common case — queries are small by
    definition) are collected to the driver and ride the task closure
    of ONE Arrow-batched corpus scan: no pair materialization, no
    per-pair interpreted HOF arithmetic, and each partition emits only
    its exact local top-k per query, so the ranking window sees
    partitions x queries x k rows instead of queries x corpus pairs.
    Cosines are bit-identical to the expression form
    (:func:`_seq_cosine_block`).  Query sets past ``max_queries`` (or
    containing NULL/NaN components) fall back to the original
    broadcast-join form, whose behavior is unchanged.  Ties broken by
    neighbour id for determinism in both paths.

    ``method``: ``"auto"`` (default) picks the Arrow scan kernel when
    the query set is bounded and clean; ``"join"`` forces the
    broadcast-join expression form — the public opt-out for corpora
    with literal NaN vector COMPONENTS, which the scan kernel rejects
    loudly (the Arrow boundary cannot round-trip value-NaN distinctly
    from NULL; the join form keeps Catalyst's NaN-ranks-first
    semantics).  (ADVICE r10 #5.)
    """
    if method not in ("auto", "join"):
        raise ValueError(
            f"brute_force_topk: method must be 'auto' or 'join', got "
            f"{method!r}"
        )
    try:
        if _FORCE_JOIN_PATHS or method == "join":
            raise ValueError("forced join path")
        q = _collect_query_matrix(
            queries, query_id_col, vec_col, max_queries, "brute_force_topk"
        )
    except ValueError:
        q = False  # unbounded/NaN query set: broadcast-join fallback
    if q is None:
        return _empty_topk(corpus, queries, id_col, query_id_col)
    if q is not False:
        qids, Q = q
        c = corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        )
        return _topk_per_query(
            _exact_scan_candidates(
                c, queries, corpus, qids, Q, int(k), id_col, query_id_col,
                check_nulls=True,
            ),
            k,
        )
    q = F.broadcast(_query_side(queries, query_id_col, vec_col))
    c = _corpus_side(corpus, id_col, vec_col)
    return _topk_per_query(_score_pairs(q.crossJoin(c)), k)


def random_hyperplanes(dim: int, num_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-Gaussian hyperplanes (fixed seed)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).round(6).tolist()


def hyperplane_lsh(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Append a sign-bit LSH bucket id (one bit per hyperplane).

    The bucket id is a plain string of sign bits built with built-in
    functions only, so bucketing stays in codegen and the result can be
    used as a shuffle/bucket key. NULL vectors get a NULL bucket (they
    must never all collide into the all-zero bucket)."""
    bits = [
        F.when(dot(F.col(vec_col), F.array(*[F.lit(v) for v in plane])) >= 0, "1").otherwise("0")
        for plane in planes
    ]
    return df.withColumn(
        out_col, F.when(F.col(vec_col).isNotNull(), F.concat(*bits))
    )


def _hash_rank_sample(
    corpus: DataFrame, vec_col: str, sample_size: int, fn_name: str
) -> "np.ndarray":
    """Bounded hash-rank sample of non-NULL vectors as a float64 matrix
    — the ONE corpus pass shared by IVF and PQ training (collect it
    once and hand it to both trainers via their ``sample`` argument;
    :func:`ivfpq_topk` / :func:`pq_persist` do exactly that, halving
    index-training IO).

    Ranking by md5 of the vector bytes draws uniformly across the whole
    corpus and is a pure function of the data (stable across
    partitionings and runs); an unordered LIMIT would instead be
    satisfied from whichever partitions respond first — a partition
    *prefix*, so every training vector would come from one file/domain
    slice.  Spark 4 plans the rank as TakeOrderedAndProject — a
    per-partition top-k plus a driver merge of ``sample_size`` rows,
    not a global sort.

    NULL *components* (as opposed to NULL vectors, which the filter
    drops) are rejected loudly: np.array maps None -> NaN, and one NaN
    row would silently poison every k-means mean it touches.
    """
    h = F.md5(F.concat_ws(",", F.col(vec_col).cast("array<string>")))
    # the hash is STAGED as a column before the orderBy: Spark's
    # TakeOrderedAndProject evaluates the ORDER BY expression inside
    # the bounded-heap comparator, so an inline md5(concat_ws(cast))
    # key is re-formatted and re-hashed O(n log k) times per partition
    # (r10: measured 1.3s -> 0.4s at sf0.1 from this line alone); a
    # projected column is hashed once per row and the comparator reads
    # the attribute.  Sample identity is untouched — same key, same
    # order.
    rows = (
        corpus.select(F.col(vec_col), h.alias("__hrs"))
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.col("__hrs").asc())
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"{fn_name}: corpus has no non-NULL embeddings to train on"
        )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    if np.isnan(X).any():
        raise ValueError(
            f"{fn_name}: sampled vectors contain NULL/NaN components — "
            "clean or impute them before index training"
        )
    return X


def resolve_ivf_params(
    n: int,
    min_centroids: int = 4,
    max_centroids: int = 65_536,
    train_points_per_centroid: int = 39,
) -> tuple[int, int, int]:
    """FAISS-guideline IVF sizing from the corpus count: ``n_list ~
    sqrt(n)`` (clamped), ``nprobe ~ sqrt(n_list)`` (the default (16, 4)
    pairing extended to any size), and a training-sample size of
    ``train_points_per_centroid * n_list`` (FAISS warns below ~39
    points/centroid).  Returns ``(n_centroids, nprobe, sample_size)``.

    A FIXED centroid count cannot scale: at n_list=16 each probe list
    is n/16 — linear in the corpus — so per-query scan volume grows
    linearly no matter what nprobe is.  sqrt sizing keeps probe-list
    size AND centroid count both ~sqrt(n), the classic IVF cost
    balance point.
    """
    if n < 1:
        return min_centroids, 1, max(min_centroids * train_points_per_centroid, 256)
    n_list = int(min(max(math.ceil(math.sqrt(n)), min_centroids), max_centroids))
    nprobe = max(1, int(round(math.sqrt(n_list))))
    return n_list, nprobe, n_list * train_points_per_centroid


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int | str = 16,
    sample_size: Optional[int] = 4096,
    iters: int = 8,
    seed: int = 42,
    sample: Optional["np.ndarray"] = None,
) -> list[list[float]]:
    """Spherical k-means centroids from a bounded corpus sample.

    IVF index training: only ``sample_size`` vectors ever reach the
    driver (standard practice — centroid quality needs a sample, not the
    corpus), the rest of the pipeline stays distributed. Deterministic
    for a fixed seed and input.

    ``n_centroids="auto"`` sizes the index from the corpus count via
    :func:`resolve_ivf_params` (``~sqrt(n)`` lists, FAISS's
    points-per-centroid training floor — ``sample_size=None`` then
    takes the resolved size; an explicit int still wins).  One extra
    ``count()`` action.

    Sampling is hash-rank based, NOT ``limit()`` — see
    :func:`_hash_rank_sample` (pass its matrix as ``sample`` to share
    one corpus draw with :func:`train_pq`).
    """
    if n_centroids == "auto":
        n = corpus.where(F.col(vec_col).isNotNull()).count()
        n_centroids, _, auto_sample = resolve_ivf_params(n)
        if sample_size is None:
            sample_size = auto_sample
    elif isinstance(n_centroids, str):
        raise ValueError(
            f"train_ivf_centroids: n_centroids must be an int or 'auto', "
            f"got {n_centroids!r}"
        )
    if sample_size is None:
        sample_size = 4096
    if sample is None:
        sample = _hash_rank_sample(
            corpus, vec_col, sample_size, "train_ivf_centroids"
        )
    X = np.asarray(sample, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C.round(6).tolist()


def _centroid_scorer(centroids: list[list[float]], nprobe: int):
    """Arrow-batched centroid scoring (the FAISS coarse-quantizer
    pattern): the centroid matrix rides in the UDF closure (broadcast
    with the task), each batch is one ``(B, D) @ (D, K)`` matmul.

    Expressing K centroid dots as Catalyst expressions would inline
    K x D literals into the plan — fine for K=8, catastrophic for the
    K=256..65536 of a real IVF index (plan analysis/codegen dominates
    runtime; measured seconds even at K=8). A vectorized pandas UDF is
    the correct scale path here: no shuffle, batch-local, and the
    matmul is the hot loop. Ties break toward the lowest centroid id
    (argsort/argmax are stable), deterministically.

    Returns top-``nprobe`` centroid ids per vector (``nprobe=1`` ==
    assignment).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # rows pre-normalized

    def topn(vs):
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        idx = _assign_topn_block(X, C, nprobe)
        return pd.Series([row.tolist() for row in idx])

    return pandas_udf(topn, "array<int>")


def _assign_topn_block(
    X: "np.ndarray", C: "np.ndarray", nprobe: int
) -> "np.ndarray":
    """THE coarse-assignment arithmetic — the single definition every
    assignment site uses (:func:`_centroid_scorer`'s batches, the
    driver-side query probing, and the fused scan kernels).  A
    drifting copy would silently assign rows to different clusters
    than the queries probe.  Ties break toward the lowest centroid id
    (argmax/stable argsort), deterministically."""
    if np.isnan(X).any():
        # NULL components arrive as NaN and every centroid dot
        # would go NaN — assignment would be arbitrary, silently
        raise ValueError(
            "ivf centroid scoring: vector contains NULL/NaN components"
        )
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dots = X @ C.T
    if nprobe == 1:
        return dots.argmax(axis=1)[:, None]
    return np.argsort(-dots, kind="stable", axis=1)[:, :nprobe]


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest (max cosine) centroid — one
    Arrow-batched matmul per batch, no shuffle. At scale, persist the
    assigned corpus partitioned by ``centroid_id`` so probes read only
    their clusters (partition pruning).

    NULL vectors are dropped (they have no nearest centroid; np.stack
    inside the Arrow batch would otherwise kill the whole task)."""
    scorer = _centroid_scorer(centroids, nprobe=1)
    return df.where(F.col(vec_col).isNotNull()).withColumn(
        out_col, scorer(F.col(vec_col))[0]
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | str = 16,
    nprobe: int | str = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors in each query's
    ``nprobe`` nearest clusters.

    The corpus is scored against ~nprobe/n_centroids of its rows per
    query — the scale path when LSH bucket sizes are too uneven. Recall
    rises with ``nprobe`` (== n_centroids gives exact brute force).

    ``n_centroids="auto"``/``nprobe="auto"`` size the index from the
    corpus count (:func:`resolve_ivf_params`: ~sqrt(n) lists, ~sqrt of
    that probed, FAISS training floor) — a FIXED list count leaves each
    probe list linear in the corpus, so per-query scan volume grows
    with n no matter what nprobe is.  With pre-trained ``centroids``,
    ``nprobe="auto"`` resolves from their count alone (no extra
    action).
    """
    if isinstance(n_centroids, str) and n_centroids != "auto":
        raise ValueError(
            f"ivf_topk: n_centroids must be an int or 'auto', got {n_centroids!r}"
        )
    if isinstance(nprobe, str) and nprobe != "auto":
        raise ValueError(
            f"ivf_topk: nprobe must be an int or 'auto', got {nprobe!r}"
        )
    if centroids is None:
        sample_size = None if n_centroids == "auto" else 4096
        if n_centroids == "auto" or nprobe == "auto":
            n = corpus.where(F.col(vec_col).isNotNull()).count()
            auto_nc, auto_np, auto_sample = resolve_ivf_params(n)
            if n_centroids == "auto":
                n_centroids, sample_size = auto_nc, auto_sample
        centroids = train_ivf_centroids(
            corpus, vec_col, n_centroids=int(n_centroids),
            sample_size=sample_size, seed=seed,
        )
    if nprobe == "auto":
        nprobe = max(1, int(round(math.sqrt(len(centroids)))))
    nprobe = int(nprobe)
    # bounded query sets (the common case): probe centroids driver-side
    # on the collected matrix — the SAME numpy ops _centroid_scorer
    # runs per batch, so probe choice is identical — then ONE scan of
    # the assigned corpus scores each query against its probed clusters
    # with the exact-cosine Arrow kernel (no broadcast-join pair
    # materialization, no interpreted per-pair HOF arithmetic, local
    # top-k cut before the ranking window).  Unbounded or NaN-component
    # query sets fall back to the original broadcast-join form.
    try:
        if _FORCE_JOIN_PATHS:
            raise ValueError("forced join path (test knob)")
        qm = _collect_query_matrix(
            queries, query_id_col, vec_col, 4096, "ivf_topk"
        )
    except ValueError:
        qm = False
    if qm is None:
        return _empty_topk(corpus, queries, id_col, query_id_col)
    if qm is not False:
        qids, Q = qm
        Cn = np.asarray(centroids, dtype=np.float64)
        npb = min(nprobe, len(Cn))
        Qx = Q / np.maximum(
            np.linalg.norm(Q, axis=1, keepdims=True), 1e-12
        )
        dots = Qx @ Cn.T
        if npb == 1:
            probes = dots.argmax(axis=1)[:, None]
        else:
            probes = np.argsort(-dots, kind="stable", axis=1)[:, :npb]
        probe_sets = [
            np.unique(np.asarray(p, dtype=np.int64)) for p in probes
        ]
        # coarse assignment happens INSIDE the scan kernel (r11, guide
        # §4 — one boundary crossing): the raw relation goes straight
        # to mapInPandas, which evaluates the same _assign_topn_block
        # the ivf_assign pandas_udf evaluated, so cluster choice (and
        # the NULL/NaN raise) is bit-identical while the corpus
        # vectors cross JVM↔Python once instead of twice
        c = corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
        )
        return _topk_per_query(
            _exact_scan_candidates(
                c, queries, corpus, qids, Q, int(k), id_col,
                query_id_col, probe_sets=probe_sets,
                assign_centroids=Cn,
            ),
            k,
        )
    c = ivf_assign(
        _corpus_side(corpus, id_col, vec_col), centroids, "cvec", "centroid_id"
    )
    # queries probe their nprobe closest centroids (same Arrow-batched
    # scorer as assignment), then explode to one row per probe
    prober = _centroid_scorer(centroids, nprobe=min(nprobe, len(centroids)))
    q = (
        _query_side(queries, query_id_col, vec_col)
        .withColumn("__probes", prober(F.col("qvec")))
        .select("query_id", "qvec", "__qn", F.explode("__probes").alias("centroid_id"))
    )
    return _topk_per_query(_score_pairs(F.broadcast(q).join(c, on="centroid_id")), k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket
    are scored. Recall < 1 by design; raise ``num_planes`` for smaller
    buckets (faster, lower recall) or lower it for higher recall.

    ``multiprobe=1`` (Lv et al. 2007) also probes every bucket at
    Hamming distance 1 from the query's bucket — the near-miss buckets
    where a neighbor whose sign flipped on ONE hyperplane landed.
    Recall rises sharply at the cost of scoring ``num_planes + 1``
    buckets per query instead of one; the CORPUS side is untouched
    (still bucketed once, no blowup where the volume lives) — only the
    broadcast-side query rows multiply, which is the cheap side by
    definition.  This beats lowering ``num_planes`` for the same
    recall: halving the planes doubles every bucket, multiprobe only
    multiplies query rows.
    """
    if multiprobe not in (0, 1):
        raise ValueError(
            f"lsh_topk: multiprobe must be 0 or 1 (1-bit flips), got "
            f"{multiprobe!r}"
        )
    sample = corpus.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if sample is None:
        # empty (or all-NULL) corpus: empty result, not a TypeError —
        # with the id types the non-empty path would produce
        return _empty_topk(corpus, queries, id_col, query_id_col)
    dim = len(sample[0])
    planes = random_hyperplanes(dim, num_planes, seed)
    c = hyperplane_lsh(
        _corpus_side(corpus, id_col, vec_col), planes, "cvec", "bucket"
    )
    q = hyperplane_lsh(
        _query_side(queries, query_id_col, vec_col), planes, "qvec", "bucket"
    )
    if multiprobe:
        # original bucket + every 1-bit flip, exploded on the QUERY
        # side (broadcast, tiny); distinct is unnecessary — the flips
        # of one bucket are all distinct strings by construction
        flip = [F.col("bucket")]
        for i in range(num_planes):
            flip.append(
                F.concat(
                    F.substring("bucket", 1, i),
                    F.when(
                        F.substring("bucket", i + 1, 1) == "1", "0"
                    ).otherwise("1"),
                    F.substring("bucket", i + 2, num_planes - i - 1),
                )
            )
        q = q.withColumn("bucket", F.explode(F.array(*flip)))
    return _topk_per_query(_score_pairs(F.broadcast(q).join(c, on="bucket")), k)


def ivf_persist(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Materialize the IVF index "at rest" (the layout SCALE.md
    promises): the corpus assigned and written **partitioned by
    centroid_id**, with the centroid matrix stored alongside as its
    own tiny parquet. Probes against the persisted index read only
    their clusters via partition pruning — at 100 TB a ``nprobe=4`` of
    256 centroids scans ~1.6% of the files instead of all of them.

    Returns the centroids (trained here if not supplied).
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, vec_col, n_centroids=n_centroids, seed=seed
        )
    assigned = ivf_assign(
        corpus.select(F.col(id_col), F.col(vec_col)), centroids, vec_col, "centroid_id"
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/corpus"
    )
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def ivf_topk_persisted(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_persist`) with
    partition-pruned probes: the probe set (a few centroid ids per
    query — tiny by definition) is collected and pushed into the scan
    as a partition filter, so only the probed clusters' files are
    read. Scoring then proceeds exactly like :func:`ivf_topk`
    (broadcast queries, JVM-side cosine, per-query top-k window).
    """
    crows = (
        spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    )
    centroids = [r["centroid"] for r in crows]
    prober = _centroid_scorer(centroids, nprobe=min(nprobe, len(centroids)))
    q = (
        _query_side(queries, query_id_col, vec_col)
        .withColumn("__probes", prober(F.col("qvec")))
        .select("query_id", "qvec", "__qn", F.explode("__probes").alias("centroid_id"))
    )
    q = q.localCheckpoint(eager=True)  # probe once, reuse for filter + join
    probe_ids = sorted({r["centroid_id"] for r in q.select("centroid_id").collect()})
    corpus = (
        spark.read.parquet(f"{path}/corpus")
        .where(F.col("centroid_id").isin(probe_ids))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            "centroid_id",
        )
        .withColumn("__cn", l2_norm(F.col("cvec")))
    )
    return _topk_per_query(_score_pairs(F.broadcast(q).join(corpus, on="centroid_id")), k)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, "Product quantization
# for nearest neighbor search", TPAMI 2011) — the ANN family's MEMORY
# story.  A D-dim float vector becomes M small codes (one per
# subspace, each the id of the nearest of K sub-centroids): at
# D=64 float32 / M=8 / K=16 that is 256 bytes -> 8 bytes, a 32x
# shrink.  At 100 TB this is the difference between "the index fits in
# the cluster's page cache" and "every probe is cold IO": a persisted
# code table reads M bytes per row instead of 4D, and ADC scoring
# (asymmetric distance computation: the query stays float, per-query
# lookup tables give each code's contribution) does O(M) table adds
# per corpus vector instead of an O(D) dot product.
#
# Division of labor, matching the IVF trio above:
# * train_pq     — bounded driver-side k-means per subspace (sample,
#                  never the corpus; the train_ivf_centroids contract);
# * pq_encode    — Arrow-batched argmin per subspace, no shuffle;
# * pq_topk      — ADC: per-query LUTs ride the closure, each corpus
#                  partition emits only its own exact top-k candidates
#                  under a total order, one tiny global window finishes.
# Compose with IVF for the full FAISS-style IVFPQ layout: ivf_persist
# the codes partitioned by centroid_id, then pq_topk the pruned scan.
# ---------------------------------------------------------------------------


def train_pq(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    sample: Optional["np.ndarray"] = None,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks ``[M][K][D/M]`` from a bounded
    corpus sample (hash-rank drawn via :func:`_hash_rank_sample` —
    pass its matrix as ``sample`` to share one corpus draw with
    :func:`train_ivf_centroids`).  Plain L2 k-means per subspace (PQ
    quantizes raw subvectors, not directions); deterministic for a
    fixed seed and input; empty clusters keep their previous centroid.

    The vector dimension must divide evenly by ``n_subspaces`` —
    validated against the sampled data, loudly.
    """
    if n_subspaces < 1:
        raise ValueError("train_pq: n_subspaces must be >= 1")
    if n_centroids < 2:
        raise ValueError("train_pq: n_centroids must be >= 2")
    if sample is None:
        sample = _hash_rank_sample(corpus, vec_col, sample_size, "train_pq")
    X = np.asarray(sample, dtype=np.float64)
    dim = X.shape[1]
    if dim % n_subspaces != 0:
        raise ValueError(
            f"train_pq: vector dim {dim} is not divisible by "
            f"n_subspaces={n_subspaces}"
        )
    dsub = dim // n_subspaces
    rng = np.random.default_rng(seed)
    books = []
    for m_i in range(n_subspaces):
        S = X[:, m_i * dsub : (m_i + 1) * dsub]
        k_eff = min(n_centroids, len(S))
        C = S[rng.choice(len(S), size=k_eff, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k_eff):
                members = S[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books.append(C.round(6).tolist())
    return books


def _pq_codes_block(
    X: "np.ndarray", C: "np.ndarray", cn2: "np.ndarray"
) -> "np.ndarray":
    """THE PQ-encode arithmetic — the single definition every encode
    site uses (:func:`pq_encode`'s batches and the fused scan
    kernels).  Returns the (B, M) argmin codes; ties break toward the
    lowest code id (argmin is first-min), deterministically."""
    M, _, dsub = C.shape
    dim = M * dsub
    if X.shape[1] != dim:
        raise ValueError(
            f"pq_encode: vector dim {X.shape[1]} != codebook dim {dim}"
        )
    if np.isnan(X).any():
        # NULL components arrive as NaN; argmin over a NaN row
        # returns position 0 silently — a garbage code
        raise ValueError(
            "pq_encode: vector contains NULL/NaN components"
        )
    S = X.reshape(len(X), M, dsub)  # (B, M, dsub)
    # ||s - c||^2 = ||s||^2 - 2 s.c + ||c||^2; ||s||^2 is constant
    # per (row, subspace) so argmin only needs the last two terms
    dots = np.einsum("bmd,mkd->bmk", S, C)  # (B, M, K)
    return (cn2[None, :, :] - 2.0 * dots).argmin(axis=2)  # (B, M)


def _pq_dim(codebooks: list[list[list[float]]]) -> int:
    return len(codebooks) * len(codebooks[0][0])


def _coarse_residuals(
    X: "np.ndarray", centroids: list[list[float]]
) -> tuple["np.ndarray", "np.ndarray"]:
    """(assignments, residuals) of raw vectors against the coarse
    centroids — assignment by max cosine on the NORMALIZED vector
    (byte-identical to :func:`ivf_assign`/:func:`_centroid_scorer`,
    ties to the lowest id), residual on the RAW vector:
    ``r = x - C[assign]``.  One convention, used by training, encoding
    and ADC reconstruction alike — a drifting copy would silently
    score against the wrong reconstruction."""
    C = np.asarray(centroids, dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), _NORM_EPS)
    assign = (Xn @ C.T).argmax(axis=1)
    return assign, X - C[assign]


def train_pq_residual(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    sample: Optional["np.ndarray"] = None,
) -> list[list[list[float]]]:
    """PQ codebooks trained on COARSE RESIDUALS (FAISS
    ``by_residual=true``, the IndexIVFPQ default): each sample vector
    is assigned to its nearest coarse centroid and the per-subspace
    k-means runs on ``x - centroid`` — residuals are far more
    isotropic than raw vectors under a clustered corpus, so the same
    M×K code budget buys materially better recall.  Same bounded
    hash-rank sample discipline as :func:`train_pq` (pass ``sample``
    to share one corpus draw with :func:`train_ivf_centroids`)."""
    if sample is None:
        sample = _hash_rank_sample(
            corpus, vec_col, sample_size, "train_pq_residual"
        )
    X = np.asarray(sample, dtype=np.float64)
    _, R = _coarse_residuals(X, centroids)
    return train_pq(
        corpus,
        vec_col,
        n_subspaces=n_subspaces,
        n_centroids=n_centroids,
        iters=iters,
        seed=seed,
        sample=R,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    coarse_centroids: Optional[list[list[float]]] = None,
    cid_col: Optional[str] = None,
) -> DataFrame:
    """Append the PQ code (``array<int>`` of length M, code m = id of
    the nearest sub-centroid by L2) — one Arrow-batched argmin per
    batch, no shuffle; the codebooks ride the UDF closure exactly like
    :func:`_centroid_scorer`'s matrix (expression form would inline
    M*K*dsub literals into the plan; see that docstring).  Ties break
    toward the lowest code id (argmin is first-min), deterministically.
    NULL vectors are dropped (no geometry, and np.stack would kill the
    task).  Persist the coded corpus instead of the float vectors for
    search at rest — that is where the 4D/M IO shrink comes from.

    RESIDUAL mode (``coarse_centroids`` + ``cid_col`` together, FAISS
    ``by_residual=true``): the row's coarse centroid (by ``cid_col``)
    is subtracted from the raw vector BEFORE the argmin, so codes
    quantize ``x - c`` against residual-trained codebooks
    (:func:`train_pq_residual`).  Same zero-shuffle Arrow pass — the
    subtraction is one vectorized index+subtract per batch.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if (coarse_centroids is None) != (cid_col is None):
        raise ValueError(
            "pq_encode: coarse_centroids and cid_col must be passed "
            "together (residual mode needs both the centroid matrix "
            "and each row's assignment)"
        )
    if cid_col is not None and cid_col not in df.columns:
        raise ValueError(
            f"pq_encode: cid_col {cid_col!r} not on the input — run "
            "ivf_assign first"
        )
    if out_col in df.columns:
        # withColumn would silently OVERWRITE an existing column of
        # this name (bpe_encode/sequence_spans reject clashes loudly —
        # same discipline here; also covers pq_topk's internal '__pq')
        raise ValueError(
            f"pq_encode: output column {out_col!r} already exists on "
            "the input — rename it or pass a different out_col"
        )
    C = np.asarray(codebooks, dtype=np.float64)  # (M, K, dsub)
    M, _, dsub = C.shape
    dim = M * dsub
    # per-centroid squared norms precomputed once per executor
    cn2 = (C**2).sum(axis=2)  # (M, K)
    Coarse = (
        None
        if coarse_centroids is None
        else np.asarray(coarse_centroids, dtype=np.float64)
    )

    def _codes(X):
        codes = _pq_codes_block(X, C, cn2)
        return pd.Series([row.tolist() for row in codes.astype("int32")])

    if Coarse is None:

        def encode(vs):
            return _codes(
                np.stack([np.asarray(v, dtype=np.float64) for v in vs])
            )

        udf = pandas_udf(encode, "array<int>")
        return df.where(F.col(vec_col).isNotNull()).withColumn(
            out_col, udf(F.col(vec_col))
        )

    def encode_residual(vs, cids):
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        c = cids.to_numpy(dtype=np.int64)
        if (c < 0).any() or (c >= len(Coarse)).any():
            raise ValueError(
                f"pq_encode: {cid_col!r} value outside "
                f"[0, {len(Coarse)}) — assignments from a different "
                "centroid set?"
            )
        return _codes(X - Coarse[c])

    udf = pandas_udf(encode_residual, "array<int>")
    return df.where(F.col(vec_col).isNotNull()).withColumn(
        out_col, udf(F.col(vec_col), F.col(cid_col))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    code_col: Optional[str] = None,
    rerank: Optional[int | str] = None,
    max_queries: int = 4096,
    rerank_frac: float = 0.05,
    max_rerank: int = 10_000,
) -> DataFrame:
    """Approximate cosine top-k by ADC over PQ codes: each query
    precomputes a ``(M, K)`` lookup table of sub-dot-products, every
    corpus vector is scored as the SUM of M table entries against its
    reconstruction ``c̃`` (``cos(q, c̃)``), so scoring never touches
    corpus floats.  Same output contract as :func:`brute_force_topk`
    (``query_id, neighbor_id, cosine, rank``, ties by neighbour id).

    ``code_col`` names a pre-encoded ``array<int>`` column (the
    persisted-index path — the corpus scan then reads codes only);
    None encodes in-flight via :func:`pq_encode`.

    ``rerank=R`` adds the standard exact-refinement tier (FAISS's
    IVFPQ+refine): ADC selects R candidates per query, then ONLY those
    R×NQ rows are re-scored with exact float cosine — the broadcast
    candidate-id semi-join prunes the float fetch, so the expensive
    exact arithmetic touches R rows per query, never the corpus.
    Quantization error then only costs recall where the true neighbour
    fell outside the ADC top-R, which R a few × k makes rare.

    **A fixed R does not scale** (measured on the 10x probe: recall@10
    0.96 -> 0.68 at rerank=100 when the corpus grew 2k -> 20k; the same
    5% FRACTION — 100/2k vs 1000/20k — reads 0.96/0.98): as density
    grows, proportionally more corpus vectors crowd into any ADC-error
    band around the true neighbours, so the shortlist must grow with n.
    ``rerank="auto"`` sets ``R = max(10*k, ceil(rerank_frac * n))``
    (one extra ``count()``), raising past ``max_rerank`` instead of
    silently degrading — a flat-PQ scan whose honest R exceeds the cap
    is the signal to move to :func:`ivfpq_topk`, whose coarse pruning
    keeps the refine pool bounded per probe-list rather than per
    corpus.

    Scale shape: queries are collected to the driver (bounded by
    ``max_queries`` — they are small by definition; corpus-scale query
    sets should go through :func:`ivf_topk`) and their LUTs ride the
    ``mapInPandas`` closure; the corpus NEVER shuffles — each partition
    emits at most queries × k candidate rows (its exact local top-k
    under the (cosine desc, id asc) total order, so the global window
    over candidates returns exactly the all-partition top-k,
    independent of partitioning).
    """
    if rerank == "auto":
        n = corpus.count()
        rerank = max(10 * int(k), int(math.ceil(rerank_frac * n)))
        if rerank > max_rerank:
            raise ValueError(
                f"pq_topk: rerank='auto' resolves to {rerank} "
                f"(rerank_frac={rerank_frac} of n={n}) > "
                f"max_rerank={max_rerank} — a flat-PQ scan needs a "
                "corpus-fraction refine pool to hold recall at this "
                "size; use ivfpq_topk (coarse pruning bounds the pool "
                "per probe list) or raise max_rerank deliberately"
            )
    elif isinstance(rerank, str):
        raise ValueError(
            f"pq_topk: rerank must be an int, None, or 'auto' — got "
            f"{rerank!r}"
        )
    if code_col is None and not _FORCE_JOIN_PATHS:
        # in-flight encode, fused (r11, guide §4): the raw vectors go
        # straight to the ADC kernel, which runs the same
        # _pq_codes_block the pq_encode UDF evaluates — bit-identical
        # codes/errors, one boundary crossing instead of two, one
        # ArrowEvalPython node gone from the plan
        coded = corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__raw"),
        )
    elif code_col is None:
        # legacy in-flight chain (parity twin): encode into a
        # CLASH-FREE temp name (an input already carrying a '__pq'
        # column would trip pq_encode's overwrite guard), then project
        # to _adc_search's internal '__pq' contract — the projection
        # drops every input column, so no collision survives
        from .sampling import _fresh_name

        tmp = _fresh_name("__pq", corpus.columns)
        rr = (
            [F.col(vec_col).alias("__vec")]
            if rerank is not None and vec_col in corpus.columns
            else []
        )
        coded = pq_encode(corpus, codebooks, vec_col, tmp).select(
            F.col(id_col).alias("neighbor_id"), F.col(tmp).alias("__pq"), *rr
        )
    else:
        # pre-encoded (persisted-index shape): keep the join-based
        # rerank — a row may carry a code but a NULL float vector, and
        # the join form excludes it from the exact pool by contract
        coded = corpus.where(F.col(code_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__pq")
        )
    q = _collect_query_matrix(
        queries, query_id_col, vec_col, max_queries, "pq_topk"
    )
    if q is None:
        return _empty_topk(corpus, queries, id_col, query_id_col)
    qids, Q = q
    return _adc_search(
        corpus,
        queries,
        coded,
        np.asarray(codebooks, dtype=np.float64),
        qids,
        Q,
        k,
        rerank,
        id_col,
        vec_col,
        query_id_col,
        fn_name="pq_topk",
    )


def _collect_query_matrix(queries, query_id_col, vec_col, max_queries, fn_name):
    """Bounded driver-side collect of the query vectors; None if empty."""
    qrows = (
        queries.where(F.col(vec_col).isNotNull())
        .select(F.col(query_id_col), F.col(vec_col))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"{fn_name}: more than max_queries={max_queries} query vectors — "
            "corpus-scale query sets should use ivf_topk/lsh_topk"
        )
    if not qrows:
        return None
    qids = [r[0] for r in qrows]
    Q = np.array([r[1] for r in qrows], dtype=np.float64)  # (NQ, dim)
    if np.isnan(Q).any():
        # None -> NaN under np.array; a NaN query row would rank its
        # neighbors arbitrarily (every cosine NaN) with no error
        raise ValueError(
            f"{fn_name}: query vectors contain NULL/NaN components"
        )
    return qids, Q


def _adc_search(
    corpus: DataFrame,
    queries: DataFrame,
    coded: DataFrame,
    C: "np.ndarray",
    qids: list,
    Q: "np.ndarray",
    k: int,
    rerank: Optional[int],
    id_col: str,
    vec_col: str,
    query_id_col: str,
    probes: Optional["np.ndarray"] = None,
    fn_name: str = "pq_topk",
    coarse: Optional["np.ndarray"] = None,
    assign_centroids: Optional["np.ndarray"] = None,
    all_probed: Optional[list] = None,
) -> DataFrame:
    """Shared ADC scan + optional exact re-rank behind :func:`pq_topk`
    and :func:`ivfpq_topk`.  ``coded`` carries ``neighbor_id, __pq``
    (plus ``__cid`` when ``probes`` — the (NQ, nprobe) per-query
    cluster-probe matrix — is given: each query then scores only rows
    in its own probed clusters, the IVF pruning).

    RAW mode (r11, guide §4 — cross the boundary once): when ``coded``
    carries ``__raw`` (the float vectors) instead of ``__pq``, the
    kernel computes the coarse assignment (``assign_centroids``, via
    :func:`_assign_topn_block`), drops rows outside ``all_probed``,
    and PQ-encodes (:func:`_pq_codes_block`; residual mode subtracts
    the row's coarse centroid exactly like :func:`pq_encode`) INSIDE
    this same scan — the in-flight encode chain previously shipped the
    corpus vectors across JVM↔Python THREE times (assign pandas_udf,
    encode pandas_udf, this scan); raw mode crosses once and the plan
    drops two ArrowEvalPython nodes.  All arithmetic is the shared
    block functions the legacy UDFs evaluate, so codes, assignments,
    error messages and results are bit-identical.  The exact rerank
    reads the same in-kernel floats (nothing extra ships).

    ``coarse`` (the coarse centroid matrix) switches ADC to RESIDUAL
    reconstruction (``by_residual=true``): the row decodes as
    ``x̃ = c_cid + r̃``, so the cosine numerator is ``q·c_cid + Σ_m
    lut[m][code_m]`` and the norm is ``sqrt(|c|² + 2·Σ_m c·r̃_m +
    |r̃|²)`` — three small precomputed tables (per-query·centroid
    dots, centroid norms, and the (NC, M, K) centroid-sub-dot table),
    still zero extra corpus IO.  The third table is the price of
    residual mode: its size is validated loudly below."""
    import pandas as pd
    from pyspark.sql import types as T

    M, K, dsub = C.shape
    dim = M * dsub
    if coarse is not None:
        if probes is None:
            raise ValueError(
                f"{fn_name}: residual ADC needs per-row coarse "
                "assignments (probes/__cid) — it is an IVFPQ mode"
            )
        table_bytes = len(coarse) * M * K * 8
        if table_bytes > 256 * 1024 * 1024:
            raise ValueError(
                f"{fn_name}: residual ADC's (n_centroids x M x K) "
                f"centroid-sub-dot table would be {table_bytes >> 20} MiB "
                "per task — reduce n_centroids/M/K or use "
                "by_residual=False"
            )
    if Q.shape[1] != dim:
        raise ValueError(
            f"{fn_name}: query dim {Q.shape[1]} != codebook dim {dim}"
        )
    if rerank is not None:
        if rerank < k:
            raise ValueError(f"{fn_name}: rerank={rerank} must be >= k={k}")
        if vec_col not in corpus.columns:
            raise ValueError(
                f"{fn_name}: rerank needs the float column {vec_col!r} on "
                "the corpus frame (codes alone cannot be exactly re-scored)"
            )
    # per-query LUT of sub-dot-products and the code-norm table
    lut = np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), M, dsub), C)  # (NQ, M, K)
    cn2 = (C**2).sum(axis=2)  # (M, K): ||c̃||^2 = Σ_m ||C[m][code_m]||^2
    qn = np.maximum(np.linalg.norm(Q, axis=1), _NORM_EPS)  # (NQ,)
    if coarse is not None:
        qc = Q @ coarse.T  # (NQ, NC): q·c per (query, centroid)
        ccn2 = (coarse**2).sum(axis=1)  # (NC,)
        # c·r̃ decomposes per subspace like the LUT: (NC, M, K)
        cdot = np.einsum(
            "cmd,mkd->cmk", coarse.reshape(len(coarse), M, dsub), C
        )
    probe_sets = (
        None
        if probes is None
        else [np.unique(np.asarray(p, dtype=np.int64)) for p in probes]
    )

    # fused exact rerank: when the caller ships the float vectors on
    # the coded relation (``__vec``), the exact refinement cosine is
    # computed INSIDE this same scan for each partition's local top-R
    # candidates — bit-identical to the expression form
    # (:func:`_seq_cosine_block`) — so the rerank tier needs no second
    # corpus scan, no full-corpus norm projection and no broadcast
    # candidate joins; the price is the float column crossing the
    # Arrow boundary for probed rows (persisted-index callers keep the
    # join form: their floats live outside the coded relation).
    raw_mode = "__raw" in coded.columns
    if raw_mode and probes is not None and assign_centroids is None:
        raise ValueError(
            f"{fn_name}: raw-mode IVF pruning needs assign_centroids"
        )
    all_probed_arr = (
        np.asarray(sorted(all_probed), dtype=np.int64)
        if all_probed is not None
        else None
    )
    fused = (
        rerank is not None
        and ("__vec" in coded.columns or raw_mode)
        and not _FORCE_JOIN_PATHS
    )
    out_fields = [
        T.StructField("query_id", queries.schema[query_id_col].dataType),
        T.StructField("neighbor_id", corpus.schema[id_col].dataType),
        T.StructField("cosine", T.DoubleType()),
    ]
    if fused:
        out_fields.append(T.StructField("__exact", T.DoubleType()))
        qn_seq = _seq_norms(Q)
    out_schema = T.StructType(out_fields)
    # the per-batch exact local cut must keep whatever the next stage
    # ranks over: k for pure ADC, the full R candidate pool for rerank
    kk = int(max(k, rerank or 0))

    def score_partition(batches):
        rng_m = np.arange(M)
        for pdf in batches:
            if not len(pdf):
                continue
            if raw_mode:
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__raw"]]
                )  # (B, dim)
                ids = pdf["neighbor_id"].to_numpy()
                if probe_sets is not None:
                    # same block ivf_assign evaluates (its NULL/NaN
                    # raise fires first, matching the legacy chain's
                    # UDF order), then the probed-cluster pre-filter
                    # that used to run as a JVM isin between the
                    # encode UDF and the scan
                    cids = _assign_topn_block(X, assign_centroids, 1)[:, 0]
                    if all_probed_arr is not None:
                        keep = np.isin(cids, all_probed_arr)
                        if not keep.any():
                            continue
                        X, ids, cids = X[keep], ids[keep], cids[keep]
                else:
                    cids = None
                # same block pq_encode evaluates (incl. its dim and
                # NULL/NaN raises); residual mode subtracts the row's
                # coarse centroid exactly like encode_residual
                codes = _pq_codes_block(
                    X - coarse[cids] if coarse is not None else X, C, cn2
                )  # (B, M)
                vecs = X if fused else None
            else:
                codes = np.stack(
                    [np.asarray(c, dtype=np.int64) for c in pdf["__pq"]]
                )  # (B, M)
                ids = pdf["neighbor_id"].to_numpy()
                vecs = pdf["__vec"].to_numpy() if fused else None
                cids = (
                    pdf["__cid"].to_numpy()
                    if probe_sets is not None
                    else None
                )
            rn2 = cn2[rng_m, codes].sum(axis=1)  # (B,) Σ_m ||code_m||^2
            if coarse is None:
                cn = np.maximum(np.sqrt(np.maximum(rn2, 0.0)), _NORM_EPS)
            else:
                # ||c + r̃||² = |c|² + 2·Σ_m c_m·C_m[code_m] + |r̃|²
                cdsum = cdot[
                    cids[:, None], rng_m[None, :], codes
                ].sum(axis=1)  # (B,)
                cn = np.maximum(
                    np.sqrt(
                        np.maximum(ccn2[cids] + 2.0 * cdsum + rn2, 0.0)
                    ),
                    _NORM_EPS,
                )
            outs = []
            for qi in range(len(qids)):
                if probe_sets is not None:
                    mask = np.isin(cids, probe_sets[qi])
                    if not mask.any():
                        continue
                    q_codes, q_ids, q_cn = codes[mask], ids[mask], cn[mask]
                    q_cids = cids[mask]
                    q_vecs = vecs[mask] if fused else None
                else:
                    q_codes, q_ids, q_cn = codes, ids, cn
                    q_cids = None
                    q_vecs = vecs
                num = lut[qi][rng_m, q_codes].sum(axis=1)
                if coarse is not None:
                    num = num + qc[qi, q_cids]
                cos = num / (qn[qi] * q_cn)
                # exact local top-k under (cosine desc, id asc): any
                # global top-k row is in its partition's local top-k
                order = np.lexsort((q_ids, -cos))[:kk]
                out = {
                    "query_id": [qids[qi]] * len(order),
                    "neighbor_id": q_ids[order],
                    "cosine": cos[order],
                }
                if fused:
                    V = np.stack(
                        [
                            np.asarray(q_vecs[i], dtype=np.float64)
                            for i in order
                        ]
                    )
                    out["__exact"] = _seq_cosine_block(
                        V, Q[qi], qn_seq[qi]
                    )
                outs.append(pd.DataFrame(out))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    candidates = coded.mapInPandas(score_partition, out_schema)
    if rerank is None:
        return _topk_per_query(candidates, k)

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if fused:
        # the R-pool cut by ADC score, then ranked by the exact cosine
        # already computed in the scan — same pool, same exact values
        # as the join form, one window chain and zero extra scans
        pool = (
            candidates.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= int(rerank))
            .select(
                "query_id", "neighbor_id", F.col("__exact").alias("cosine")
            )
        )
        return _topk_per_query(pool, k)
    cand_ids = (
        candidates.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= int(rerank))
        .select("query_id", "neighbor_id")
    )
    qdf = (
        corpus.sparkSession.createDataFrame(
            [(qid, [float(x) for x in Q[i]]) for i, qid in enumerate(qids)],
            T.StructType(
                [
                    T.StructField(
                        "query_id", queries.schema[query_id_col].dataType
                    ),
                    T.StructField("qvec", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
        .withColumn("__qn", l2_norm(F.col("qvec")))
    )
    # prune FIRST, then compute the norm: the projection with the
    # fold-expression norm otherwise sits below the join in the plan
    # (Catalyst does not push joins through projections) and evaluates
    # it for every corpus row instead of the R x NQ pruned rows
    c = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    pruned = c.join(F.broadcast(cand_ids), on="neighbor_id", how="inner")
    pruned = pruned.withColumn("__cn", l2_norm(F.col("cvec")))
    return _topk_per_query(
        _score_pairs(pruned.join(F.broadcast(qdf), on="query_id")), k
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | str = 16,
    nprobe: int | str = 4,
    n_subspaces: int = 8,
    n_pq_centroids: int = 16,
    rerank: Optional[int] = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: Optional[list[list[float]]] = None,
    codebooks: Optional[list[list[list[float]]]] = None,
    max_queries: int = 4096,
    by_residual: bool = False,
) -> DataFrame:
    """The composed FAISS-style IVFPQ layout: the IVF coarse quantizer
    prunes WHICH corpus rows each query scores (``nprobe`` of
    ``n_centroids`` clusters), PQ codes decide HOW each surviving row
    is scored (O(M) ADC table adds, no corpus floats), and ``rerank``
    optionally refines the top-R with exact float cosine.  This is the
    100 TB serving shape: IO bounded by nprobe/n_centroids of the
    corpus × M bytes per row, exact arithmetic bounded by R per query.

    ``by_residual=False`` (default) encodes RAW vectors: one global
    codebook keeps encode a single shuffle-free pass and the ADC LUT
    per-query-global.  ``by_residual=True`` is the FAISS IndexIVFPQ
    default: codes quantize ``x - coarse_centroid``
    (:func:`train_pq_residual` / :func:`pq_encode` residual mode), and
    ADC reconstructs ``c + r̃`` with three small precomputed tables —
    materially better recall at the same M under a clustered corpus,
    at the cost of an (n_centroids, M, K) table per task (bounded with
    a loud error).  Explicit ``codebooks`` must match the mode they
    were trained in — a raw codebook scored residually is silent
    garbage, which is why the persisted index stores the flag
    (:func:`pq_persist` meta).  Both quantizers train on bounded
    hash-rank samples (see :func:`train_ivf_centroids`); pass
    ``centroids``/``codebooks`` to reuse a persisted index.
    ``n_centroids="auto"``/``nprobe="auto"`` size the coarse quantizer
    from the corpus count exactly like :func:`ivf_topk` (sqrt sizing +
    the FAISS training floor; with pre-trained centroids auto resolves
    from their count, no extra action).

    Same output contract as :func:`brute_force_topk`; a query whose
    probed clusters are all empty simply returns fewer (or zero) rows,
    exactly like :func:`ivf_topk`.
    """
    if isinstance(n_centroids, str) and n_centroids != "auto":
        raise ValueError(
            f"ivfpq_topk: n_centroids must be an int or 'auto', got "
            f"{n_centroids!r}"
        )
    if isinstance(nprobe, str) and nprobe != "auto":
        raise ValueError(
            f"ivfpq_topk: nprobe must be an int or 'auto', got {nprobe!r}"
        )
    sample_size = 4096
    if n_centroids == "auto" and centroids is None:
        # same sqrt(n) sizing as ivf_topk; the training sample grows to
        # FAISS's points-per-centroid floor
        n = corpus.where(F.col(vec_col).isNotNull()).count()
        n_centroids, _, auto_sample = resolve_ivf_params(n)
        sample_size = max(sample_size, auto_sample)
    elif n_centroids == "auto":
        n_centroids = len(centroids)
    if centroids is None or codebooks is None:
        # ONE hash-rank sampling pass serves both quantizers (each
        # trainer's own draw would scan + top-k the corpus twice for
        # the identical 4096 rows)
        sample = _hash_rank_sample(corpus, vec_col, sample_size, "ivfpq_topk")
        if centroids is None:
            centroids = train_ivf_centroids(
                corpus, vec_col, n_centroids=n_centroids, seed=seed,
                sample=sample,
            )
        if codebooks is None:
            if by_residual:
                codebooks = train_pq_residual(
                    corpus,
                    centroids,
                    vec_col,
                    n_subspaces=n_subspaces,
                    n_centroids=n_pq_centroids,
                    seed=seed,
                    sample=sample,
                )
            else:
                codebooks = train_pq(
                    corpus,
                    vec_col,
                    n_subspaces=n_subspaces,
                    n_centroids=n_pq_centroids,
                    seed=seed,
                    sample=sample,
                )
    q = _collect_query_matrix(
        queries, query_id_col, vec_col, max_queries, "ivfpq_topk"
    )
    if q is None:
        return _empty_topk(corpus, queries, id_col, query_id_col)
    qids, Q = q
    # query-side coarse probing is pure numpy on the already-collected
    # matrix (the corpus-side _centroid_scorer exists for corpus-scale
    # assignment; NQ query rows don't need an Arrow round trip).
    # Centroids come back unit-normalized from training, so the dot IS
    # the cosine ordering; argsort(stable) ties toward the lowest id,
    # matching _centroid_scorer exactly.
    Cn = np.asarray(centroids, dtype=np.float64)
    if nprobe == "auto":
        nprobe = max(1, int(round(math.sqrt(len(Cn)))))
    nprobe = int(nprobe)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), _NORM_EPS)
    dots = Qn @ Cn.T
    probes = np.argsort(-dots, kind="stable", axis=1)[:, : min(nprobe, len(Cn))]
    all_probed = sorted({int(c) for p in probes for c in p})
    if _FORCE_JOIN_PATHS:
        # legacy in-flight chain (parity twin): coarse-assign and
        # PQ-encode as separate pandas_udf crossings, probed-cluster
        # filter in the JVM between encode and scan
        assigned = ivf_assign(
            corpus.select(F.col(id_col), F.col(vec_col)), centroids, vec_col, "__cid"
        )
        from .sampling import _fresh_name

        tmp = _fresh_name("__pq", assigned.columns)
        coded = pq_encode(
            assigned,
            codebooks,
            vec_col,
            tmp,
            coarse_centroids=centroids if by_residual else None,
            cid_col="__cid" if by_residual else None,
        ).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(tmp).alias("__pq"),
            "__cid",
            *(
                [F.col(vec_col).alias("__vec")]
                if rerank is not None
                else []
            ),
        )
        coded = coded.where(F.col("__cid").isin(all_probed))
        extra = {}
    else:
        # ONE corpus pass AND one boundary crossing (r11, guide §4):
        # the raw vectors go straight to the ADC kernel, which runs
        # the same assignment/encode blocks the legacy UDFs evaluate
        # (bit-identical codes, clusters, errors) plus the probed-
        # cluster pre-filter — two ArrowEvalPython nodes gone from the
        # plan.  (Persisted-index callers keep the codes-only scan via
        # ivfpq_topk_persisted: their codes live at rest, partitioned
        # by cluster.)
        coded = corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__raw"),
        )
        extra = {"assign_centroids": Cn, "all_probed": all_probed}
    return _adc_search(
        corpus,
        queries,
        coded,
        np.asarray(codebooks, dtype=np.float64),
        qids,
        Q,
        k,
        rerank,
        id_col,
        vec_col,
        query_id_col,
        probes=probes,
        fn_name="ivfpq_topk",
        coarse=Cn if by_residual else None,
        **extra,
    )


def pq_persist(
    corpus: DataFrame,
    path: str,
    centroids: Optional[list[list[float]]] = None,
    codebooks: Optional[list[list[list[float]]]] = None,
    n_centroids: int = 16,
    n_subspaces: int = 8,
    n_pq_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_floats: bool = True,
    by_residual: bool = False,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Materialize the IVFPQ index "at rest": the coded corpus
    ``(id, pq_code)`` written **partitioned by centroid_id** (probes
    read only their clusters via partition pruning, and each pruned
    file holds M small codes per row instead of 4·D float bytes — the
    32× shrink where it matters, on disk), with the centroid matrix
    and PQ codebooks alongside as tiny parquets.

    ``store_floats=True`` additionally writes a flat ``floats`` table
    (``id, vec``) — the refine store: :func:`ivfpq_topk_persisted`'s
    ``rerank`` tier fetches ONLY its top-R candidate rows from it via a
    broadcast semi-join, the FAISS ``IndexRefineFlat`` layout.  Skip it
    when re-ranking isn't needed and the index should be codes-only.

    Returns ``(centroids, codebooks)`` (trained here if not supplied).
    """
    spark = corpus.sparkSession
    if centroids is None or codebooks is None:
        # one shared sampling pass for both quantizers (see ivfpq_topk)
        sample = _hash_rank_sample(corpus, vec_col, 4096, "pq_persist")
        if centroids is None:
            centroids = train_ivf_centroids(
                corpus, vec_col, n_centroids=n_centroids, seed=seed,
                sample=sample,
            )
        if codebooks is None:
            if by_residual:
                codebooks = train_pq_residual(
                    corpus,
                    centroids,
                    vec_col,
                    n_subspaces=n_subspaces,
                    n_centroids=n_pq_centroids,
                    seed=seed,
                    sample=sample,
                )
            else:
                codebooks = train_pq(
                    corpus,
                    vec_col,
                    n_subspaces=n_subspaces,
                    n_centroids=n_pq_centroids,
                    seed=seed,
                    sample=sample,
                )
    assigned = ivf_assign(
        corpus.select(F.col(id_col), F.col(vec_col)), centroids, vec_col, "centroid_id"
    )
    coded = pq_encode(
        assigned,
        codebooks,
        vec_col,
        "pq_code",
        coarse_centroids=centroids if by_residual else None,
        cid_col="centroid_id" if by_residual else None,
    ).select(F.col(id_col), "pq_code", "centroid_id")
    coded.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/codes"
    )
    # the encode mode is part of the index's IDENTITY: a raw codebook
    # scored residually (or vice versa) is silently wrong, so the flag
    # persists with the index and the reader routes on it
    spark.createDataFrame(
        [(bool(by_residual),)], "by_residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    bdf = spark.createDataFrame(
        [
            (mi, ki, c)
            for mi, book in enumerate(codebooks)
            for ki, c in enumerate(book)
        ],
        "m int, k int, centroid array<double>",
    )
    bdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    if store_floats:
        corpus.select(F.col(id_col), F.col(vec_col)).write.mode(
            "overwrite"
        ).parquet(f"{path}/floats")
    return centroids, codebooks


def ivfpq_topk_persisted(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 4096,
) -> DataFrame:
    """Query a persisted IVFPQ index (:func:`pq_persist`): probe ids
    are pushed into the codes scan as a partition filter, ADC scores
    the pruned code files (M bytes per row off disk), and ``rerank``
    refines the top-R against the flat ``floats`` store — only the
    broadcast-semi-joined candidate rows are ever read as floats."""
    crows = (
        spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    )
    centroids = [r["centroid"] for r in crows]
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        meta_row = spark.read.parquet(f"{path}/meta").first()
    except AnalysisException as exc:
        # ONLY the absent-meta legacy case defaults to raw: pre-meta
        # indexes (older pq_persist) are raw-vector BY CONSTRUCTION.
        # Any other failure (permissions, corrupt files, transient
        # store errors) must raise — guessing raw against
        # residual-trained codebooks is silent garbage
        if "PATH_NOT_FOUND" not in str(exc):
            raise
        meta_row = None
    if meta_row is None:
        by_residual = False
    elif meta_row["by_residual"] is None:
        raise ValueError(
            f"ivfpq_topk_persisted: corrupt index meta at {path}/meta "
            "(NULL by_residual) — re-persist the index"
        )
    else:
        by_residual = bool(meta_row["by_residual"])
    brows = spark.read.parquet(f"{path}/codebooks").orderBy("m", "k").collect()
    n_sub = 1 + max(r["m"] for r in brows)
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in brows:
        books[r["m"]].append(r["centroid"])

    q = _collect_query_matrix(
        queries, query_id_col, vec_col, max_queries, "ivfpq_topk_persisted"
    )
    codes = spark.read.parquet(f"{path}/codes")
    if q is None:
        return _empty_topk(codes, queries, id_col, query_id_col)
    qids, Q = q
    Cn = np.asarray(centroids, dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), _NORM_EPS)
    probes = np.argsort(-(Qn @ Cn.T), kind="stable", axis=1)[
        :, : min(nprobe, len(Cn))
    ]
    all_probed = sorted({int(c) for p in probes for c in p})
    coded = (
        codes.where(F.col("centroid_id").isin(all_probed))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("pq_code").alias("__pq"),
            F.col("centroid_id").alias("__cid"),
        )
    )
    if rerank is not None:
        try:
            floats = spark.read.parquet(f"{path}/floats")
        except Exception as exc:
            raise ValueError(
                "ivfpq_topk_persisted: rerank needs the index's floats "
                "store — re-persist with pq_persist(store_floats=True)"
            ) from exc
    else:
        # codes-only path: _adc_search only reads the id type from it
        floats = coded.select(F.col("neighbor_id").alias(id_col))
    return _adc_search(
        floats,
        queries,
        coded,
        np.asarray(books, dtype=np.float64),
        qids,
        Q,
        k,
        rerank,
        id_col,
        vec_col,
        query_id_col,
        probes=probes,
        fn_name="ivfpq_topk_persisted",
        coarse=Cn if by_residual else None,
    )


# resolution of the integer RRF contribution 1/(k + rank): bigint sums
# are partition-order independent (the module's micro-unit discipline),
# and at rank 1e6 the quantized term still carries ~6 significant digits
_RRF_SCALE = 1_000_000_000_000  # 1e12


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k: int = 60,
    query_col: Optional[str] = None,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al., SIGIR 2009): merge
    ranked result lists — e.g. a BM25 text ranking and an embedding
    top-k — into one ranking by ``Σ_lists 1/(k + rank)``, the standard
    hybrid-retrieval combiner (k=60, the paper's constant).

    Each input frame carries ``id_col``, a 1-based ``rank_col``, and
    optionally ``query_col`` for per-query fusion.  The 1-based
    contract is ENFORCED inline (``raise_error`` on NULL or < 1 ranks,
    a codegen branch — no extra validation pass): a 0-based ranking is
    the classic off-by-one and would silently inflate every
    contribution, and with ``k=0`` a rank of 0 would divide by zero
    and vanish from the sum.  Contributions are
    quantized to integer 1e-12 units before summing (``rrf_micro``) so
    the score is partition-order independent and exactly reproducible
    in an external SQL engine; ``rrf = rrf_micro / 1e12``.  Output
    adds ``n_lists`` (how many inputs ranked the id) and the fused
    1-based ``fused_rank`` (ties break by id).

    Scale shape: a union of the (already small) result lists, one
    groupBy on (query, id), one rank window partitioned by query —
    nothing corpus-sized; fusion cost is bounded by the lists, not the
    corpus.
    """
    if not ranked:
        raise ValueError("rrf_fuse: ranked must be a non-empty list")
    if k < 0:
        raise ValueError(f"rrf_fuse: k must be >= 0, got {k}")
    keys = ([query_col] if query_col else []) + [id_col]
    parts = []
    for i, df in enumerate(ranked):
        missing = [c for c in keys + [rank_col] if c not in df.columns]
        if missing:
            raise ValueError(
                f"rrf_fuse: input {i} is missing columns {missing}"
            )
        # inline 1-based-rank guard: evaluated per row inside codegen,
        # fails the job loudly at the first out-of-contract rank
        rank = F.when(
            F.col(rank_col).isNull() | (F.col(rank_col) < 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"rrf_fuse: {rank_col!r} must be a 1-based rank "
                        "(>= 1, non-NULL), got "
                    ),
                    F.coalesce(F.col(rank_col).cast("string"), F.lit("NULL")),
                )
            ).cast("double"),
        ).otherwise(F.col(rank_col).cast("double"))
        parts.append(
            df.select(
                *keys,
                F.floor(F.lit(_RRF_SCALE) / (F.lit(k) + rank))
                .cast("bigint")
                .alias("__rrf_c"),
            )
        )
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum("__rrf_c").cast("bigint").alias("rrf_micro"),
    )
    w = Window.partitionBy(
        *([query_col] if query_col else [])
    ).orderBy(F.desc("rrf_micro"), F.asc(id_col))
    return fused.select(
        *keys,
        "n_lists",
        "rrf_micro",
        (F.col("rrf_micro").cast("double") / F.lit(float(_RRF_SCALE))).alias(
            "rrf"
        ),
        F.row_number().over(w).cast("bigint").alias("fused_rank"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Cosine top-k over int8-QUANTIZED vectors — the search-side
    payoff of :func:`~.embedding.quantize_embeddings`: scoring reads
    8-bit codes (4× less memory traffic and SIMD-friendly integer
    dot products on a real ANN serving path) at a bounded accuracy
    cost (per-component error ≤ scale/2).

    Symmetric per-vector quantization cancels out of the cosine:
    ``cos(q·s_q, c·s_c) = (q·c) / (|q|·|c|)`` — so the score is the
    pure INTEGER dot product over integer norms: partition-order
    independent, bit-exact in any engine (the gate's DuckDB oracle
    replays quantization and scoring end to end), no float drift.
    Same output contract as :func:`brute_force_topk` (``query_id,
    neighbor_id, cosine, rank``, ties by neighbour id); NULL and
    all-zero vectors score 0.  Accuracy vs the exact float top-k is
    asserted in tests (recall@10 ≥ 0.9 on the test corpus).

    Scale shape: identical to :func:`brute_force_topk` — broadcast
    quantized queries, corpus never shuffles, one per-query top-k
    window.  For corpus-scale query sets compose quantization with
    :func:`ivf_topk` / :func:`lsh_topk` instead; this exact-scan
    variant is the scoring-accuracy baseline.
    """
    from .embedding import quantize_embeddings

    def _int_dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _int_sq(a: Column) -> Column:
        return F.aggregate(
            a,
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long") * x.cast("long"),
        )

    qq = (
        quantize_embeddings(
            queries.where(F.col(vec_col).isNotNull()), vec_col, query_id_col
        )
        .select(F.col(query_id_col).alias("query_id"), F.col("qvec").alias("q"))
        .withColumn("__qs", _int_sq(F.col("q")))
    )
    qc = (
        quantize_embeddings(
            corpus.where(F.col(vec_col).isNotNull()), vec_col, id_col
        )
        .select(F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("c"))
        .withColumn("__cs", _int_sq(F.col("c")))
    )
    scored = F.broadcast(qq).crossJoin(qc).select(
        "query_id",
        "neighbor_id",
        F.when(
            (F.col("__qs") > 0) & (F.col("__cs") > 0),
            _int_dot(F.col("q"), F.col("c")).cast("double")
            / F.sqrt((F.col("__qs") * F.col("__cs")).cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("cosine"),
    )
    return _topk_per_query(scored, k)


def hybrid_topk(
    corpus_text: DataFrame,
    corpus_vec: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    lexical_k: int = 100,
    vector_k: int = 100,
    rrf_k: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    k1: float = 1.2,
    b: float = 0.75,
    method: str = "auto",
) -> DataFrame:
    """Hybrid lexical + vector retrieval, end to end: Okapi BM25 over
    the text corpus and exact-cosine top-k over the embedding corpus,
    fused by Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) — the
    standard production hybrid-search shape (e.g. retrieval for RAG /
    training-data selection by combined relevance).

    ``corpus_text`` rows are identified by ``id_col`` and
    ``corpus_vec`` rows by ``vec_id_col``; the two MUST share an id
    namespace (the same document's text row and embedding row carry
    the same id) — ids ranked by only one side still fuse, with
    ``n_lists = 1``.  ``query_vec`` is the query's embedding as a
    plain float list (collect it from wherever the query text was
    embedded); ``query_terms`` its bag of words.

    Scale shape: each side reduces to its own bounded TOP LIST first —
    BM25's scored relation through one ``orderBy().limit(lexical_k)``
    (TakeOrderedAndProject: per-partition heads, no global sort) and
    the vector side through :func:`brute_force_topk`'s per-query
    window top-k (swap in :func:`ivf_topk`/:func:`ivfpq_topk` output
    for ANN at corpus scale: any frame with the same
    ``neighbor_id``/``rank`` contract fuses identically).  Fusion then
    runs on ≤ ``lexical_k + vector_k`` rows — never corpus-sized.
    Output is :func:`rrf_fuse`'s contract filtered to
    ``fused_rank <= k``: ``id, n_lists, rrf_micro, rrf, fused_rank``
    (integer 1e-12-unit contributions keep the fused score
    engine-exact for the DuckDB oracle gate).
    """
    if k < 1 or lexical_k < 1 or vector_k < 1:
        raise ValueError(
            f"hybrid_topk: k/lexical_k/vector_k must be >= 1, got "
            f"{k}/{lexical_k}/{vector_k}"
        )
    if method not in ("auto", "join"):
        raise ValueError(
            f"hybrid_topk: method must be 'auto' or 'join', got {method!r}"
        )
    if not query_vec:
        raise ValueError("hybrid_topk: query_vec must be non-empty")
    from pyspark.sql import types as T

    from .text import bm25_scores

    lex_scored = bm25_scores(
        corpus_text, query_terms, text_col=text_col, id_col=id_col, k1=k1, b=b
    )
    # bounded top list FIRST (TakeOrderedAndProject), then a 1-based
    # rank over the <= lexical_k survivors — the global window is fine
    # because the limit already bounded the relation
    # rank by the 6dp-rounded score (the op_bm25 precision contract):
    # BM25 carries ln(), whose last-ulp rounding differs across engines
    # — unrounded floats could flip near-tied ranks between this plan
    # and an external verifier and break the integer-exact fusion
    lex_key = F.round(F.col("bm25"), 6)
    lex = (
        lex_scored.orderBy(F.desc(lex_key), F.asc(id_col))
        .limit(lexical_k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc(lex_key), F.asc(id_col))
            ),
        )
        .select(F.col(id_col).alias("__hid"), "rank")
    )
    spark = corpus_vec.sparkSession
    qlist = [float(x) for x in query_vec]
    qdf = spark.createDataFrame(
        [(0, qlist)],
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField(vec_col, T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    # the query vector is already a driver-side list: hand it straight
    # to the exact-cosine scan instead of paying brute_force_topk's
    # collect JOB to pull the same row back out of qdf.  The matrix is
    # exactly what _collect_query_matrix(qdf, ...) would return, so the
    # result is bit-identical; NaN components take the same
    # broadcast-join fallback brute_force_topk would take.
    Q = np.asarray([qlist], dtype=np.float64)
    if _FORCE_JOIN_PATHS or method == "join" or np.isnan(Q).any():
        vec = brute_force_topk(
            corpus_vec,
            qdf,
            k=vector_k,
            id_col=vec_id_col,
            vec_col=vec_col,
            query_id_col="query_id",
            method=method,
        )
    else:
        c = corpus_vec.where(F.col(vec_col).isNotNull()).select(
            F.col(vec_id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
        )
        vec = _topk_per_query(
            _exact_scan_candidates(
                c, qdf, corpus_vec, [0], Q, int(vector_k), vec_id_col,
                "query_id", check_nulls=True,
            ),
            vector_k,
        )
    vec = vec.select(F.col("neighbor_id").alias("__hid"), "rank")
    fused = rrf_fuse([lex, vec], id_col="__hid", rank_col="rank", k=rrf_k)
    return fused.where(F.col("fused_rank") <= k).select(
        F.col("__hid").alias(id_col),
        "n_lists",
        "rrf_micro",
        "rrf",
        "fused_rank",
    )
