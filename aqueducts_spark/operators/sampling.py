"""Deterministic sampling operators for training-data pipelines.

Sampling at 100 TB has two hard requirements the naive
``df.sample(fraction)`` does not meet:

1. **Reproducibility across runs and engines** — a training-set cut must
   be re-derivable. We hash the row's id with md5 and keep a row iff
   ``hash mod N < rate*N`` — a pure function of the data, stable across
   Spark versions, partitionings, and engines (the DuckDB oracle
   computes the identical predicate).
2. **No shuffle** — all samplers below are pure per-row filters (0
   shuffles, whole-stage codegen); stratified sampling maps each
   stratum to its own rate with a broadcast-size rate table expressed as
   a CASE expression.

``deterministic_split`` assigns disjoint train/validation/test buckets
from one hash — membership is exclusive and exhaustive by construction,
which per-split independent sampling cannot guarantee.

Reference has no sampling operators (SURVEY §2.B "not present" list);
these are beyond-reference training-pipeline additions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "hash_sample",
    "weighted_sample",
    "stratified_sample",
    "stratified_fixed_n",
    "deterministic_split",
    "group_cap",
]

# 10k buckets give 0.01% rate granularity while keeping the modulus
# well inside the exact range of the 60-bit hash prefix
_BUCKETS = 10_000


def _fresh_name(base: str, taken) -> str:
    """Helper-column name that cannot collide with (and so silently
    destroy) a legitimate user column of the same name."""
    name = base
    while name in taken:
        name = "_" + name
    return name


def hash_bucket(
    col: Column, buckets: int = _BUCKETS, salt: str = "", hash_fn: str = "md5"
) -> Column:
    """Deterministic bucket in [0, buckets): md5 of the value (plus an
    optional salt for independent re-draws), top 60 bits, mod buckets.

    ``hash_fn="xxhash64"`` swaps the digest for Spark's native codegen
    hash — the 100 TB fast path (one JVM intrinsic vs string digest +
    hex parse per row).  Same determinism within Spark, same uniformity;
    NOT reproducible by an external SQL engine, so gates keep md5.

    NULL values hash via a sentinel rather than propagating NULL — a
    NULL bucket compares NULL to every threshold, so NULL-id rows would
    silently vanish from a rate-1.0 sample and route inconsistently in
    splits.

    Identical to the DuckDB expression
    ``('0x' || substr(md5(salt || coalesce(v, chr(0))), 1, 15))::BIGINT
    % buckets``.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    v = F.coalesce(col.cast("string"), F.lit("\x00"))
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(salt), v), F.lit(buckets)).cast("int")
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), v)), 1, 15), 16, 10)
    return (h.cast("long") % buckets).cast("int")


def hash_sample(
    df: DataFrame,
    id_col: str,
    rate: float,
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows keyed by ``id_col``.

    Re-running (any engine, any partitioning) selects the same rows;
    different ``salt`` values draw independent samples.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(round(rate * _BUCKETS))
    return df.filter(hash_bucket(F.col(id_col), _BUCKETS, salt, hash_fn) < threshold)


def weighted_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "dup_weight",
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-row Bernoulli sampling with a PER-ROW keep probability — the
    application step for soft-dedup / importance weights: feed
    :func:`~.dedup.dup_weights`' ``n**(-alpha)`` column (or a DSIR
    importance weight mapped into [0, 1]) and the expected surviving
    mass per duplicate group is ``n**(1-alpha)`` — the materialized
    form of the reweighting that loss-side weighting would apply at
    training time.

    Deterministic like every sampler here: keep iff
    ``hash_bucket(id, salt) < weight * 10000`` — a pure per-row filter
    (0 shuffles, whole-stage codegen), reproducible across runs,
    partitionings and engines, with independent re-draws via ``salt``.
    P(keep) quantizes to 1/10000 granularity (hash_bucket's resolution).

    Weights must lie in [0, 1] — validated at execution: a weight > 1
    cannot be a Bernoulli probability (importance weights above 1 need
    replication, a different operator), and a silent clamp would skew
    the sample.  NULL weights are rejected too (ambiguous intent —
    coalesce upstream to 0 or 1 explicitly).
    """
    w = F.col(weight_col)
    # the guard lives INSIDE the keep predicate (one CASE expression):
    # a separate assert_true filter can be reordered/conjoined by the
    # optimizer so that `bucket < NULL * B` silently drops the invalid
    # row before the assert ever evaluates
    keep = F.when(
        w.isNull() | (w < 0.0) | (w > 1.0),
        F.raise_error(
            F.lit(
                "weighted_sample: weight must be non-NULL and in [0, 1] "
                "— coalesce NULLs explicitly; weights > 1 need "
                "replication, not Bernoulli sampling"
            )
        ).cast("boolean"),
    ).otherwise(
        hash_bucket(F.col(id_col), _BUCKETS, salt, hash_fn)
        < w.cast("double") * F.lit(float(_BUCKETS))
    )
    return df.filter(keep)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.0,
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample common
    languages, keep all rare ones).

    ``rates`` maps stratum value -> keep fraction; strata not listed use
    ``default_rate``. Rates compile to one CASE expression — the rate
    table rides inside codegen, no join, no shuffle.
    """
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    threshold = F.lit(int(round(default_rate * _BUCKETS)))
    for value, rate in sorted((rates or {}).items()):
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {value!r} must be in [0, 1], got {rate}")
        threshold = (
            F.when(F.col(stratum_col) == value, int(round(rate * _BUCKETS)))
            .otherwise(threshold)
        )
    return df.filter(hash_bucket(F.col(id_col), _BUCKETS, salt, hash_fn) < threshold)


def deterministic_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    out_col: str = "split",
    salt: str = "split",
    hash_fn: str = "md5",
) -> DataFrame:
    """Label every row with a split name ("train"/"valid"/"test", …)
    using contiguous hash-bucket ranges proportional to ``weights``.

    Splits are disjoint and cover every row (weights are normalized);
    membership depends only on (id, salt).
    """
    if out_col in df.columns:
        raise ValueError(
            f"deterministic_split: output column {out_col!r} already "
            "exists on the input — a silent overwrite would replace a "
            "previous split assignment; pass a different out_col"
        )
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    negative = {k: w for k, w in weights.items() if w < 0}
    if negative:
        # a negative weight passes the sum check but yields an
        # impossible bucket range — that split is silently empty
        raise ValueError(f"split weights must be >= 0, got {negative}")
    bucket = hash_bucket(F.col(id_col), _BUCKETS, salt, hash_fn)
    expr = None
    upper = 0.0
    items = sorted(weights.items())
    for name, w in items[:-1]:
        upper += w / total * _BUCKETS
        cond = bucket < int(round(upper))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_fixed_n(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    n_per_stratum: int,
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Exactly ``min(n, stratum size)`` rows per stratum, chosen by
    deterministic hash rank — the fixed-budget cousin of
    :func:`stratified_sample` ("give me 10k docs per language", not a
    fraction).

    Ranking key is ``(md5(salt || id), id)`` so selection is a pure
    function of the data: re-running on any engine or partitioning
    draws the same rows, and changing ``salt`` is an independent
    re-draw.

    One shuffle (hash by stratum for the rank window). Spark 4 plans a
    ``WindowGroupLimit`` before the full window — per-partition top-n
    pre-filtering — so the exchange carries at most ``n`` rows per
    stratum per map partition, not the whole stratum.
    """
    from pyspark.sql.window import Window

    v = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00"))
    # NULL ids hash via the same sentinel as hash_bucket: a NULL rank
    # key made selection among NULL-id rows partition-order dependent.
    # CONTRACT: ids must be UNIQUE non-NULL for fully deterministic
    # selection — several NULL-id (or duplicate-id) rows in a stratum
    # share one rank key, so WHICH of them crosses the n cutoff is
    # partition-order dependent (the sentinel only fixes their order
    # relative to other rows, not among themselves)
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.lit(salt), v)
    elif hash_fn == "md5":
        h = F.md5(F.concat(F.lit(salt), v))
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    w = Window.partitionBy(stratum_col).orderBy(
        h.asc(), F.col(id_col).asc_nulls_last()
    )
    rk = _fresh_name("_rk", df.columns)
    return (
        df.withColumn(rk, F.row_number().over(w))
        .where(F.col(rk) <= n_per_stratum)
        .drop(rk)
    )


def group_cap(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    n: int,
    descending: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-group quota capping: keep the best ``n`` rows of each group
    ranked by ``order_col`` — the domain-cap step of a web-scale
    pipeline ("at most 10k pages per domain, highest quality first"),
    which bounds any single source's contribution to the training mix.

    ``tiebreak_col`` (recommended: a unique id) makes the cut
    deterministic when ``order_col`` ties; without it, ties at the
    boundary are partition-order dependent.

    Same plan shape as :func:`stratified_fixed_n`: one shuffle keyed by
    the group columns, and Spark 4 inserts a ``WindowGroupLimit`` so
    each map partition forwards at most ``n`` rows per group into the
    exchange — the shuffle carries quota-sized output, not the corpus,
    exactly what a hot domain with millions of pages needs.
    """
    from pyspark.sql.window import Window

    # NULLS LAST in BOTH directions: Spark's bare asc() is NULLS FIRST,
    # which let NULL-score rows outrank every real row and consume the
    # whole quota under descending=False (desc() is already NULLS LAST)
    order = [
        F.col(order_col).desc_nulls_last()
        if descending
        else F.col(order_col).asc_nulls_last()
    ]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc_nulls_last())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    rk = _fresh_name("_rk", df.columns)
    return (
        df.withColumn(rk, F.row_number().over(w))
        .where(F.col(rk) <= n)
        .drop(rk)
    )
