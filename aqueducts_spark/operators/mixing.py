"""Training-mix composition: deterministic weighted up/down-sampling
and token-budget shard packing.

The last mile of a training-data pipeline is composing the mix — "2x
wikipedia, 0.3x common-crawl" — and laying the result out in shards of
a fixed token budget.  Both steps here are pure functions of the data
(md5-derived decisions, no RNG state), so a mix is re-derivable
bit-for-bit on any engine: the DuckDB gate oracle reproduces row
multiplicities and shard assignments exactly.

``weighted_mix`` realizes a per-group multiplier w as
``floor(w)`` guaranteed copies plus one extra copy iff the row's hash
bucket (0..9999) falls under ``floor(frac(w)*10000 + 0.5)`` — the bucket
thresholds are computed in *Python* integers so no floating-point
arithmetic appears in either engine's SQL.  Expected multiplicity is
within 1/10000 of w; repeated runs select the same physical rows.

``pack_shards`` assigns rows to fixed-budget shards by cumulative
token count.  Greedy sequential packing is inherently serial, so it is
done per *pack-partition* (deterministic hash of the id), matching how
a distributed writer actually lays out shards: P independent packers,
each filling shards in id order.  A shard may overflow the budget by at
most one row's tokens (start-offset binning) — the standard contract
when documents are much smaller than the shard budget.

Scale design (100 TB):

* ``weighted_mix`` — ZERO shuffles: the weight table is a small CASE
  expression (map literal), the copy count is a per-row expression, and
  duplication is ``explode(sequence(1, n))`` — all whole-stage codegen.
  Output volume = sum of weights, controlled by the caller.
* ``pack_shards`` — ONE shuffle (hash by pack-partition), then a
  per-partition window; each packer sorts only its own slice.  P scales
  with cluster width; shard ids are (partition, index) pairs so packers
  never coordinate.
* ``shuffle_corpus`` — deterministic training-order reshuffle: global
  total order is ONE range-partitioned sort; the sharded path is a
  hash repartition + within-shard sort (no range sampling, no global
  coordination), which is how training shards are actually laid out.
* ``corpus_offsets`` — global row positions / token offsets via the
  classic two-pass distributed prefix sum: a tiny per-shard totals
  aggregate (rows = number of shards, broadcast back) plus per-shard
  windows — never a single global window or sort.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import hash_bucket

__all__ = [
    "weighted_mix",
    "pack_shards",
    "temperature_weights",
    "temperature_mix",
    "token_budget_weights",
    "token_budget_mix",
    "shuffle_corpus",
    "corpus_offsets",
    "sequence_spans",
    "shard_manifest",
]

_BUCKETS = 10_000


def _copies_expr(weights: Mapping[str, float], default_weight: float, group_col, bucket):
    """Integer copy count: ``floor(w) + (bucket < floor(frac(w)*10000
    + 0.5))``.  Half-UP rounding (``floor(x+0.5)``), not Python's
    half-to-even ``round()``: an external SQL engine reproducing the
    threshold from a float weight (the temperature_mix oracle) has
    ``floor(x+0.5)`` but not banker's rounding, and the two differ
    exactly on the .5 boundaries."""

    def n_for(w: float):
        if w < 0:
            raise ValueError(f"weighted_mix: negative weight {w}")
        base = int(w)
        thr = int((w - base) * _BUCKETS + 0.5)
        n = F.lit(base)
        if thr > 0:
            n = n + F.when(bucket < F.lit(thr), 1).otherwise(0)
        return n

    expr = n_for(default_weight)
    for g, w in sorted(weights.items()):
        expr = F.when(group_col == F.lit(g), n_for(w)).otherwise(expr)
    return expr


def weighted_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weights: Mapping[str, float],
    default_weight: float = 1.0,
    copy_col: str = "mix_copy",
    hash_fn: str = "md5",
) -> DataFrame:
    """Up/down-sample each group by its multiplier: weight 2.5 keeps
    every row twice and a deterministic hash-chosen half a third time;
    weight 0.3 keeps a deterministic ~30%.  Adds ``copy_col``
    (1..copies) so duplicated rows stay distinguishable downstream.
    ``hash_fn="xxhash64"`` takes the native-codegen fast path (module
    discipline: Spark-internal determinism only; gates keep md5).
    """
    bucket = hash_bucket(
        F.col(id_col), buckets=_BUCKETS, salt="mix:", hash_fn=hash_fn
    )
    n = _copies_expr(weights, default_weight, F.col(group_col), bucket)
    if copy_col in df.columns:
        raise ValueError(
            f"weighted_mix: output column {copy_col!r} already exists "
            "on the input — rename it or pass a different copy_col"
        )
    # helper name must not collide with (and silently destroy) a
    # legitimate user column
    from .sampling import _fresh_name

    mix_n = _fresh_name("_mix_n", df.columns)
    return (
        df.withColumn(mix_n, n)
        .where(F.col(mix_n) >= 1)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col(mix_n))))
        .drop(mix_n)
    )


def temperature_weights(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.3,
    target_total: float | None = None,
    max_groups: int = 1000,
) -> dict[str, float]:
    """Per-group mix multipliers from temperature sampling over the
    observed group sizes — the multilingual-corpus re-balancing rule
    (exponential smoothing, as in XLM / mT5): sampling probability
    ``q_s ∝ (n_s/N)^alpha``, so ``alpha=1`` keeps natural proportions,
    ``alpha=0`` equalizes all groups, and the usual 0.2-0.7 range
    up-weights small sources without drowning large ones.

    The returned dict maps each group to the :func:`weighted_mix`
    multiplier ``w_s = q_s * T / n_s`` where ``T`` is ``target_total``
    (default: the corpus size, i.e. the mix is size-preserving in
    expectation).  One ``groupBy(group).count()`` action runs here —
    NOTE it executes ``df``'s full upstream lineage; persist ``df``
    first if that lineage is expensive, since the mix itself executes
    it again.  The weights are plain Python floats, so the mix
    thresholds stay engine-exact integers (the module's discipline).
    Rows with NULL ``group_col`` are excluded from the fit (the
    returned dict never has a ``None`` key) and keep
    ``weighted_mix``'s ``default_weight``.  ``group_col`` must be a
    bounded category (source/language/domain-class, not raw domains):
    the weights ride the driver and compile into one CASE expression
    per group, so more than ``max_groups`` distinct values is rejected
    rather than melting the driver and Catalyst.
    """
    if alpha < 0:
        raise ValueError(f"temperature_weights: alpha must be >= 0, got {alpha}")
    rows = (
        # NULL groups are excluded from the fit (two lines below) — so
        # they must not count against the cardinality guard either
        df.where(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(rows) > max_groups:
        raise ValueError(
            f"temperature_weights: more than {max_groups} distinct "
            f"{group_col!r} values — temperature sampling is a per-SOURCE "
            "re-balance (bounded categories); bucket the column first or "
            "raise max_groups if the cardinality is genuinely bounded"
        )
    sizes = {r["g"]: r["n"] for r in rows}
    sizes = {g: n for g, n in sizes.items() if g is not None and n > 0}
    if not sizes:
        return {}
    total = float(sum(sizes.values()))
    t = float(target_total) if target_total is not None else total
    if t <= 0:
        raise ValueError("temperature_weights: target_total must be > 0")
    probs = {g: (n / total) ** alpha for g, n in sizes.items()}
    z = sum(probs.values())
    return {g: (p / z) * t / sizes[g] for g, p in probs.items()}


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.3,
    target_total: float | None = None,
    copy_col: str = "mix_copy",
    max_groups: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """:func:`temperature_weights` composed with :func:`weighted_mix`:
    re-balance the corpus across ``group_col`` sources by temperature
    ``alpha`` in one call.  Rows whose group was empty/NULL keep
    weight 1.  Deterministic (md5-derived copy decisions), ZERO
    shuffles beyond the size count — which, note, executes ``df``'s
    lineage eagerly before the mix executes it again: persist ``df``
    first when its lineage is expensive."""
    weights = temperature_weights(
        df, group_col, alpha, target_total, max_groups=max_groups
    )
    return weighted_mix(
        df, group_col, id_col, weights, default_weight=1.0,
        copy_col=copy_col, hash_fn=hash_fn,
    )


def token_budget_weights(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget: float,
    shares: Mapping[str, float],
    max_groups: int = 1000,
) -> dict[str, float]:
    """Per-group :func:`weighted_mix` multipliers that materialize a
    TOKEN budget at target shares — how a pretraining mixture spec
    ("500B tokens: 60% web, 25% code, 15% books") becomes a physical
    dataset.  For each group ``g`` with observed token mass ``T_g``,
    the multiplier is ``w_g = budget * share_g / Σshares / T_g``, so
    the mixed corpus carries ``budget * share_g`` tokens of ``g`` in
    expectation (shares are normalized; they need not sum to 1).
    ``w_g > 1`` means the source repeats (epochs) — the standard move
    when a small high-quality source must fill a large share.

    Groups observed in the data but absent from ``shares`` get NO
    entry — compose with ``weighted_mix(default_weight=0.0)`` (what
    :func:`token_budget_mix` does) to exclude them, or 1.0 to pass
    them through unscaled.  A share for a group with zero observed
    tokens cannot be materialized and raises (silently under-filling
    the budget would misrepresent the mix).  Rows with NULL
    ``group_col`` or NULL/negative ``token_col`` are excluded from the
    mass fit; NULL tokens count zero toward any group's mass.

    One ``groupBy(group).sum(token)`` action runs here — it executes
    ``df``'s full upstream lineage; persist ``df`` first if that
    lineage is expensive (the mix executes it again).  ``group_col``
    must be a bounded category (the weights ride the driver and
    compile into one CASE per group): more than ``max_groups``
    distinct SHARED groups is rejected rather than melting Catalyst.
    Weights are plain Python floats, so the mix thresholds stay
    engine-exact integers (the module's discipline).
    """
    if budget <= 0:
        raise ValueError(f"token_budget_weights: budget must be > 0, got {budget}")
    if not shares:
        raise ValueError("token_budget_weights: shares must be non-empty")
    if len(shares) > max_groups:
        raise ValueError(
            f"token_budget_weights: {len(shares)} shares exceed "
            f"max_groups={max_groups} — token budgeting is a per-SOURCE "
            "mix over bounded categories; bucket the column first"
        )
    for g, s in shares.items():
        if s < 0:
            raise ValueError(
                f"token_budget_weights: negative share {s} for group {g!r}"
            )
    z = float(sum(shares.values()))
    if z <= 0:
        raise ValueError("token_budget_weights: shares must sum to > 0")
    rows = (
        df.where(
            F.col(group_col).isin(list(shares))
            & F.col(token_col).isNotNull()
            & (F.col(token_col) >= 0)
        )
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(F.col(token_col).cast("double")).alias("t"))
        .collect()
    )
    mass = {r["g"]: float(r["t"]) for r in rows}
    missing = [g for g, s in shares.items() if s > 0 and mass.get(g, 0.0) <= 0]
    if missing:
        raise ValueError(
            "token_budget_weights: no observed tokens for shared "
            f"group(s) {sorted(missing)!r} — their share cannot be "
            "materialized and the budget would silently under-fill"
        )
    return {
        g: float(budget) * (s / z) / mass[g]
        for g, s in shares.items()
        if s > 0
    }


def token_budget_mix(
    df: DataFrame,
    group_col: str,
    id_col: str,
    token_col: str,
    budget: float,
    shares: Mapping[str, float],
    copy_col: str = "mix_copy",
    max_groups: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """:func:`token_budget_weights` composed with :func:`weighted_mix`:
    materialize a token budget at target shares in one call.  Groups
    without a share are EXCLUDED (``default_weight=0.0``) — the output
    is exactly the declared mixture, nothing rides along.
    Deterministic (md5-derived copy decisions); ZERO shuffles beyond
    the token-mass aggregate — which executes ``df``'s lineage eagerly
    before the mix executes it again: persist ``df`` first when its
    lineage is expensive."""
    weights = token_budget_weights(
        df, group_col, token_col, budget, shares, max_groups=max_groups
    )
    return weighted_mix(
        df, group_col, id_col, weights, default_weight=0.0,
        copy_col=copy_col, hash_fn=hash_fn,
    )


def pack_shards(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    parts: int = 64,
    part_col: str = "pack_part",
    shard_col: str = "shard_id",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign each row a ``(pack_part, shard_id)``: rows hash to one of
    ``parts`` independent packers; within a packer, rows in ``order_col``
    order fill shard 0, 1, 2… switching shards when the cumulative
    token count crosses a multiple of ``budget``.

    The running sum uses an explicit ROWS frame: the default RANGE
    frame includes ORDER-BY *peers*, so duplicate ``order_col`` values
    (e.g. ``weighted_mix`` copies of one document) would all receive
    the peer-group total and blow the budget.  With duplicates, also
    pass ``tiebreak_cols`` (e.g. ``["mix_copy"]``) so the within-peer
    row order — and therefore every shard assignment — is a pure
    function of the data.
    """
    if budget < 1:
        raise ValueError("pack_shards: budget must be >= 1")
    if parts < 1:
        raise ValueError("pack_shards: parts must be >= 1")
    clashes = [c for c in (part_col, shard_col) if c in df.columns]
    if clashes:
        # silently overwriting e.g. shuffle_corpus's shard_id corrupts
        # the layout with no signal (corpus_offsets/sequence_spans all
        # raise on this)
        raise ValueError(
            f"pack_shards: output column(s) {clashes} already exist on "
            "the input — rename them or pass different part_col/shard_col"
        )
    # the packer hash includes the tiebreak columns: hashing the order
    # key alone funnels EVERY row sharing an order value (weighted_mix
    # duplicates, tied quality scores) into one packer — the exact
    # skew/one-task pileup independent packers exist to avoid.  Without
    # tiebreaks the input reduces to the order key, so existing
    # assignments (and the gate oracle) are unchanged.
    if tiebreak_cols:
        part_src = F.concat_ws(
            "\x1f",
            F.col(order_col).cast("string"),
            *[F.col(c).cast("string") for c in tiebreak_cols],
        )
    else:
        part_src = F.col(order_col)
    part = hash_bucket(part_src, buckets=parts, salt="pack:")
    order = [F.col(order_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_part = df.withColumn(part_col, part)
    # NULL token counts pack as 0 (the corpus_offsets/sequence_spans
    # convention) — raw NULL would make start NULL and silently drop
    # the row from the shard layout
    tok = F.coalesce(F.col(token_col), F.lit(0))
    cum = F.sum(tok).over(w)
    start = (cum - tok).cast("double")
    return with_part.withColumn(
        shard_col, F.floor(start / F.lit(float(budget))).cast("long")
    )


def shuffle_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "",
    n_shards: int | None = None,
    key_col: str = "shuffle_key",
    shard_col: str = "shard_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Deterministic corpus reshuffle — the training-order
    randomization every pretraining run applies before sharding (a
    corpus read in crawl/source order trains badly; the shuffle must
    still be a pure function of the data so a re-run, a resume, or an
    external audit reproduces the exact same order).

    Every row gets ``key_col = md5(seed \\x1f id)`` — a uniform
    pseudo-random sort key derived only from the id and the seed (a
    different ``seed`` is an independent reshuffle).  Then:

    * ``n_shards=None`` — GLOBAL order: the result is sorted by
      ``(key, id)``.  Plans as one range-partitioned sort (Spark
      samples range boundaries), the canonical total-order shuffle;
      right up to the size where a total order is genuinely needed.
    * ``n_shards=k`` — SHARDED order, the 100 TB path: each row also
      gets ``shard_col`` (deterministic hash bucket of the id, salted
      with the seed) and the result is hash-repartitioned by shard and
      sorted ``(shard, key, id)`` WITHIN shards — no global
      coordination, no range sampling; each shard is an independently
      ordered file a data loader can stream.  This is exactly how
      training shards are produced: shard assignment and intra-shard
      order both reproducible on any engine.

    ``hash_fn="xxhash64"`` swaps both the key and the shard hash for
    Spark's native codegen hash (``key_col`` becomes BIGINT) — faster,
    same determinism, but not reproducible by an external SQL engine;
    gates keep md5 (:func:`~.sampling.hash_bucket`'s contract).  NULL
    ids ride a ``\\x00`` sentinel instead of a NULL key, so they land
    at a stable position instead of wherever NULL ordering puts them.
    Output columns raise on collision rather than clobbering.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"shuffle_corpus: hash_fn must be 'md5' or 'xxhash64', "
            f"got {hash_fn!r}"
        )
    if n_shards is not None and n_shards < 1:
        raise ValueError(
            f"shuffle_corpus: n_shards must be >= 1, got {n_shards}"
        )
    out_names = [key_col] + ([shard_col] if n_shards is not None else [])
    if len(set(out_names)) != len(out_names):
        raise ValueError(
            "shuffle_corpus: key_col and shard_col must differ "
            f"(both {key_col!r}) — identical names would silently "
            "overwrite the shuffle key and produce an UNshuffled corpus"
        )
    clashes = [c for c in out_names if c in df.columns]
    if clashes:
        raise ValueError(
            f"shuffle_corpus: output column(s) {clashes} already exist "
            "on the input — pass key_col/shard_col to rename"
        )
    sid = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00"))
    if hash_fn == "xxhash64":
        key = F.xxhash64(F.lit(seed), sid)
    else:
        key = F.md5(F.concat(F.lit(seed), F.lit("\x1f"), sid))
    keyed = df.withColumn(key_col, key)
    if n_shards is None:
        return keyed.orderBy(F.col(key_col).asc(), F.col(id_col).asc())
    shard = hash_bucket(
        F.col(id_col), n_shards, salt="shard:" + seed, hash_fn=hash_fn
    )
    return (
        keyed.withColumn(shard_col, shard)
        .repartition(n_shards, F.col(shard_col))
        .sortWithinPartitions(
            F.col(shard_col).asc(), F.col(key_col).asc(), F.col(id_col).asc()
        )
    )


def corpus_offsets(
    df: DataFrame,
    order_cols: Sequence[str] = ("shuffle_key", "doc_id"),
    shard_col: str | None = None,
    token_col: str | None = None,
    pos_col: str = "global_pos",
    offset_col: str = "token_start",
    max_shards: int = 1_000_000,
) -> DataFrame:
    """Contiguous global row positions — and, with ``token_col``, global
    token offsets — for a laid-out training corpus: the index a data
    loader uses to seek "token 3.1T" without scanning, and the missing
    half of :func:`shuffle_corpus` + :func:`pack_shards` (those decide
    WHERE a row lives; this says at which position/offset).

    The total order is ``(shard, *order_cols)``; ``order_cols`` must be
    a total order within a shard (end with a unique id).  NULL shards
    sort first (Spark's ASC default); NULL token counts count as 0.

    * ``shard_col=None`` — one global window: a deliberate single-task
      convenience for bounded inputs (an index of shard manifests, a
      sampled audit).  Never the corpus path.
    * ``shard_col=...`` — the 100 TB path, a two-pass distributed
      prefix sum: (1) per-shard row/token totals — an aggregate whose
      OUTPUT is one row per shard, collected and prefix-summed on the
      driver (bounded by ``max_shards``, enforced), then broadcast
      back; (2) per-shard windows add ``row_number`` / an exclusive
      ROWS-frame running sum on top of the shard's base.  A prefix sum
      is inherently two passes over the input — pass 1 executes
      ``df``'s lineage eagerly (the collect), pass 2 executes it again
      under the window.  Pass 1 is column-pruned to ``(shard_col,
      token_col)`` and map-side combined, so on the intended input — a
      materialized sharded corpus — it is a slim columnar scan; but if
      ``df`` carries an expensive unmaterialized lineage (regex scrubs,
      joins), persist or write it first, exactly as
      :func:`temperature_weights` advises.  No global sort, no
      single-task window, no driver row traffic beyond the
      shard-totals table.

    Output: input columns + ``pos_col`` (0-based BIGINT over the whole
    corpus) and, iff ``token_col`` is given, ``offset_col`` (exclusive
    cumulative token sum — row i spans ``[token_start, token_start +
    tokens)``).  Both are pure functions of the data, reproducible by a
    SQL engine as ``ROW_NUMBER() OVER (ORDER BY shard, ...) - 1`` and
    the matching exclusive window sum.
    """
    from .sampling import _fresh_name

    if not order_cols:
        raise ValueError("corpus_offsets: order_cols must be non-empty")
    out_names = [pos_col] + ([offset_col] if token_col is not None else [])
    if len(set(out_names)) != len(out_names):
        raise ValueError(
            "corpus_offsets: pos_col and offset_col must differ "
            f"(both {pos_col!r})"
        )
    clashes = [c for c in out_names if c in df.columns]
    if clashes:
        raise ValueError(
            f"corpus_offsets: output column(s) {clashes} already exist "
            "on the input — pass pos_col/offset_col to rename"
        )
    order = [F.col(c).asc() for c in order_cols]
    tok0 = (
        F.coalesce(F.col(token_col).cast("long"), F.lit(0))
        if token_col is not None
        else None
    )

    if shard_col is None:
        w = Window.orderBy(*order)
        out = df.withColumn(
            pos_col, (F.row_number().over(w) - 1).cast("long")
        )
        if tok0 is not None:
            wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            out = out.withColumn(
                offset_col, (F.sum(tok0).over(wf) - tok0).cast("long")
            )
        return out

    # pass 1: shard totals -> exclusive prefix bases on the driver.
    # The aggregate's OUTPUT is one row per shard; the collect is
    # guarded so a mistaken high-cardinality shard column fails fast
    # instead of OOMing the driver.
    aggs = [F.count(F.lit(1)).alias("__n")]
    if tok0 is not None:
        aggs.append(F.sum(tok0).alias("__t"))
    totals = (
        df.groupBy(F.col(shard_col).alias("__s"))
        .agg(*aggs)
        .limit(max_shards + 1)
        .collect()
    )
    if len(totals) > max_shards:
        raise ValueError(
            f"corpus_offsets: more than {max_shards} distinct "
            f"{shard_col!r} values — shard ids are a bounded layout "
            "key; raise max_shards only if the cardinality is "
            "genuinely bounded"
        )
    # NULL shard first, matching the ASC NULLS FIRST window order below
    totals.sort(key=lambda r: (r["__s"] is not None, r["__s"]))
    base_pos_col = _fresh_name("__base_pos", df.columns)
    base_tok_col = _fresh_name("__base_tok", df.columns)
    shard_key = _fresh_name("__shard_key", df.columns)
    bases, cpos, ctok = [], 0, 0
    for r in totals:
        row = {shard_key: r["__s"], base_pos_col: cpos}
        cpos += r["__n"]
        if tok0 is not None:
            row[base_tok_col] = ctok
            ctok += int(r["__t"] or 0)
        bases.append(row)
    spark = df.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [
        StructField(shard_key, df.schema[shard_col].dataType, True),
        StructField(base_pos_col, LongType(), False),
    ]
    if tok0 is not None:
        fields.append(StructField(base_tok_col, LongType(), False))
    base_df = spark.createDataFrame(
        [tuple(b[f.name] for f in fields) for b in bases],
        StructType(fields),
    )

    # pass 2: per-shard windows on top of the broadcast bases
    w = Window.partitionBy(F.col(shard_col)).orderBy(*order)
    joined = df.join(
        F.broadcast(base_df),
        F.col(shard_col).eqNullSafe(F.col(shard_key)),
        "left",
    ).drop(shard_key)
    out = joined.withColumn(
        pos_col,
        (F.col(base_pos_col) + F.row_number().over(w) - 1).cast("long"),
    )
    if tok0 is not None:
        wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = out.withColumn(
            offset_col,
            (F.col(base_tok_col) + F.sum(tok0).over(wf) - tok0).cast("long"),
        )
    return out.drop(base_pos_col, base_tok_col)


def sequence_spans(
    df: DataFrame,
    seq_len: int,
    order_cols: Sequence[str] = ("shuffle_key", "doc_id"),
    token_col: str = "n_tokens",
    shard_col: str | None = None,
    max_shards: int = 1_000_000,
) -> DataFrame:
    """Fixed-length training-sequence packing index: lay the corpus
    token stream out contiguously in ``(shard, *order_cols)`` order
    (:func:`corpus_offsets` is the substrate) and cut it into
    sequences of exactly ``seq_len`` tokens — the standard LLM
    pre-training input shape (concat-and-split packing, GPT-style).
    The output is the loader's exact GATHER PLAN: one row per
    (document x spanned sequence) saying which token slice of which
    document lands where in which sequence.

    Output: input columns plus

    * ``seq_id``        — 0-based sequence number (BIGINT),
    * ``seq_tok_start`` — where this document slice starts INSIDE the
      sequence (``0..seq_len-1``),
    * ``doc_tok_start`` — where the slice starts INSIDE the document,
    * ``span_len``      — slice length in tokens (>= 1).

    Invariants (pinned by tests): each sequence's spans tile
    ``[0, seq_len)`` exactly (the final sequence may be partial — a
    trainer usually drops it loader-side); each document's spans tile
    ``[0, n_tokens)`` in order; everything is a pure integer function
    of the layout, reproducible by any SQL engine.  Zero-token and
    NULL-count documents contribute no spans (nothing to pack).

    Scale shape: inherits :func:`corpus_offsets`' two-pass distributed
    prefix sum (one bounded shard-totals collect, per-shard windows —
    pass ``shard_col`` for the 100 TB path); the span explode is pure
    codegen adding ``ceil(n_tokens/seq_len) (+1)`` rows per document —
    output volume ~ ``corpus_tokens / seq_len``, never quadratic.
    Feed ``token_col`` from :func:`~.text.bpe_encode` so sequences
    are cut on REAL tokenizer tokens.
    """
    from .sampling import _fresh_name

    if seq_len < 1:
        raise ValueError(
            f"sequence_spans: seq_len must be >= 1, got {seq_len}"
        )
    out_names = ["seq_id", "seq_tok_start", "doc_tok_start", "span_len"]
    clashes = [c for c in out_names if c in df.columns]
    if clashes:
        raise ValueError(
            f"sequence_spans: output column(s) {clashes} already exist "
            "on the input"
        )
    pos = _fresh_name("__sq_pos", list(df.columns) + out_names)
    off = _fresh_name("__sq_off", list(df.columns) + out_names)
    indexed = corpus_offsets(
        df,
        order_cols,
        shard_col=shard_col,
        token_col=token_col,
        pos_col=pos,
        offset_col=off,
        max_shards=max_shards,
    )
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    L = F.lit(int(seq_len)).cast("long")
    # stage the token count under a fresh bare name so the sequence-id
    # math can use integer DIV — floor(double division) would go
    # inexact past 2^53 total tokens, and this operator's whole claim
    # is exact integer layout arithmetic at corpus scale
    tokc = _fresh_name("__sq_tok", list(df.columns) + [pos, off])
    indexed = indexed.withColumn(tokc, tok)
    first = F.expr(f"{off} DIV {int(seq_len)}")
    last = F.expr(f"({off} + {tokc} - 1) DIV {int(seq_len)}")
    spanned = indexed.where(F.col(tokc) > 0).select(
        "*", F.explode(F.sequence(first, last)).alias("seq_id")
    )
    start = F.greatest(F.col(off), F.col("seq_id") * L)
    end = F.least(F.col(off) + F.col(tokc), (F.col("seq_id") + 1) * L)
    return spanned.select(
        *[F.col(c) for c in df.columns],
        F.col("seq_id").cast("long").alias("seq_id"),
        (start - F.col("seq_id") * L).cast("long").alias("seq_tok_start"),
        (start - F.col(off)).cast("long").alias("doc_tok_start"),
        (end - start).cast("long").alias("span_len"),
    )


def shard_manifest(
    df: DataFrame,
    shard_col: str = "shard_id",
    id_col: str = "doc_id",
    token_col: str | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-shard integrity manifest for a laid-out corpus — the sidecar
    a 100 TB writer emits next to its shards so a resume, a mirror, or
    an auditor can verify each shard WITHOUT re-reading the others:
    row count, token total, id range, and an ORDER-INDEPENDENT content
    hash (the sum over rows of a 28-bit md5 bucket of the id — addition
    commutes, so the hash is a pure function of the shard's row SET,
    stable under any partitioning or read order, and reproducible by
    any SQL engine from the same rows).

    Output: ``shard_col, n_docs, content_hash`` (+ ``n_tokens`` iff
    ``token_col``), ``min_id, max_id``.  NULL ids hash via the
    :func:`~.sampling.hash_bucket` sentinel (they count, they don't
    vanish); NULL token counts add 0.  ``hash_fn="xxhash64"`` is the
    codegen fast path (Spark-internal determinism only — gates keep
    md5).  The 28-bit per-row value keeps the int64 sum exact past
    3e10 rows per shard — far beyond any real shard.

    Scale shape: ONE map-side-combined aggregate keyed on the bounded
    shard id — the cheapest possible full-corpus pass.
    """
    per_row = hash_bucket(
        F.col(id_col), buckets=1 << 28, salt="manifest:", hash_fn=hash_fn
    ).cast("long")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(per_row).cast("bigint").alias("content_hash"),
    ]
    if token_col is not None:
        aggs.insert(
            1,
            F.sum(F.coalesce(F.col(token_col).cast("long"), F.lit(0)))
            .cast("bigint")
            .alias("n_tokens"),
        )
    aggs += [
        F.min(F.col(id_col)).alias("min_id"),
        F.max(F.col(id_col)).alias("max_id"),
    ]
    return df.groupBy(F.col(shard_col)).agg(*aggs)
