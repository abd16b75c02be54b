"""Structured Streaming operators.

The reference is batch-only (SURVEY §1.1: no watermarks, stream
windows, or stateful operators anywhere in it), so nothing here is
required for parity — this module is the beyond-reference streaming
surface for event pipelines, built on Spark's native streaming engine:

* file-stream sources (the streaming twin of the directory source A5);
* watermarked tumbling/sliding window aggregation;
* session windows (``session_window``) for sessionization;
* an ``availableNow`` runner that drains everything currently in the
  source and stops — which is also how a 100 TB backfill of a
  streaming pipeline runs in production (incremental batches with
  state, not one giant batch).

Scale notes: watermarks bound state size (late data beyond the
watermark is dropped); state lives in the state store keyed by group —
partitioned by key, so stateful aggs scale horizontally like any
shuffle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..types import Field, fields_to_struct


def file_stream_source(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: list[Field],
    options: Optional[dict[str, str]] = None,
) -> DataFrame:
    """Streaming twin of the directory source: new files appearing under
    ``path`` become micro-batches. Schema is mandatory (streaming reads
    cannot infer)."""
    reader = (
        spark.readStream.format(fmt)
        .schema(fields_to_struct(schema))
        .options(**(options or {}))
    )
    return reader.load(path)


def windowed_aggregate(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, Column],
    slide_duration: Optional[str] = None,
    watermark: str = "10 minutes",
    group_by: Optional[list[str]] = None,
) -> DataFrame:
    """Watermarked tumbling (or sliding) window aggregation.

    ``aggs`` maps output column name -> aggregate Column. The window
    struct is flattened to ``window_start``/``window_end`` columns.
    """
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    keys = [win] + [F.col(c) for c in (group_by or [])]
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(*[c.alias(name) for name, c in aggs.items()])
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(c) for c in (group_by or [])],
        *[F.col(name) for name in aggs],
    )


def quantile_sketch_stream(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str,
    gamma: float = 1.02,
    watermark: str = "10 minutes",
    group_by: Optional[list[str]] = None,
) -> DataFrame:
    """Per-window DDSketch bucket counts over a stream — the streaming
    twin of ``operators.sketch.dd_sketch``.

    The output IS a dd_sketch relation per ``(window, group)``: run
    ``operators.sketch.dd_quantile`` on any window slice for latency
    percentiles, or ``merge_dd_sketches`` across windows for coarser
    grains — bucket counters are linear, so hourly sketches roll up to
    daily without reprocessing events (the ``time_rollup`` contract,
    for quantiles).

    State per window/group is bounded by the bucket count (~2.3k
    buckets per 12 decades at γ=1.02), and the watermark bounds how
    many windows stay open — fixed-size state on an unbounded stream.
    """
    import math

    from ..operators.sketch import _dd_bucket

    if not gamma > 1.0:
        raise ValueError(f"quantile_sketch_stream: gamma must be > 1, got {gamma}")
    ln_gamma = math.log(gamma)
    v = F.col(value_col).cast("double")
    sgn, bucket = _dd_bucket(v, ln_gamma)
    inf = F.lit(float("inf"))
    base = (
        df.where(v.isNotNull() & ~F.isnan(v) & (F.abs(v) != inf))
        .withColumn("sgn", sgn)
        .withColumn("bucket", bucket)
    )
    keys = (
        [F.window(F.col(ts_col), window_duration)]
        + [F.col(c) for c in (group_by or [])]
        + [F.col("sgn"), F.col("bucket")]
    )
    out = (
        base.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(c) for c in (group_by or [])],
        "sgn",
        "bucket",
        "cnt",
    )


def distinct_sketch_stream(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str,
    m: int = 64,
    watermark: str = "10 minutes",
    group_by: Optional[list[str]] = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-window HyperLogLog register rows over a stream — the
    streaming twin of ``operators.sketch.hll_sketch`` (the
    quantile_sketch_stream pattern, for cardinality).

    The output IS an hll_sketch relation per ``(window, group)``: run
    ``operators.sketch.hll_estimate`` on any window slice for
    per-window distinct counts, or ``merge_hll_sketches`` across
    windows for coarser grains — registers merge by MAX, so hourly
    sketches roll up to daily without reprocessing events (the
    ``time_rollup`` contract, for distinct counts).

    State per window/group is bounded by ``m`` registers (the whole
    point of HLL — counting a billion distinct users per window costs
    the same 64..65536 rows of state), and the watermark bounds how
    many windows stay open — fixed-size state on an unbounded stream.
    MAX is the one aggregate here, so Spark runs it as a plain
    streaming aggregation with partial (map-side) maxes before the
    stateful exchange.
    """
    from ..operators.sketch import _check_hash_fn, _check_hll_m, _hll_reg_rho

    _check_hll_m(m)
    _check_hash_fn(hash_fn)
    bad = {"mx", "m", "window_start", "window_end"} & set(group_by or [])
    if bad:
        raise ValueError(
            f"distinct_sketch_stream: group columns {sorted(bad)} collide "
            "with the sketch's reserved output columns; rename them first"
        )
    base = _hll_reg_rho(df, value_col, m, hash_fn)
    keys = (
        [F.window(F.col(ts_col), window_duration)]
        + [F.col(c) for c in (group_by or [])]
        + [F.col("reg")]
    )
    out = (
        base.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.max("__rho").alias("mx"))
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(c) for c in (group_by or [])],
        "reg",
        "mx",
        F.lit(int(m)).alias("m"),
    )


def sessionize_stream(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    aggs: Optional[dict[str, Column]] = None,
) -> DataFrame:
    """Session windows: events for a key within ``gap`` of each other
    merge into one session (native ``session_window`` state — no custom
    stateful operator needed)."""
    aggs = aggs or {"n_events": F.count("*")}
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *[F.col(c) for c in key_cols])
        .agg(*[c.alias(name) for name, c in aggs.items()])
    )
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[F.col(c) for c in key_cols],
        *[F.col(name) for name in aggs],
    )


def run_available_now(
    df: DataFrame, checkpoint_dir: str, output_mode: str = "append"
) -> list:
    """Drain everything currently available through the streaming plan
    into an in-memory sink and return the rows (for tests/backfills)."""
    import uuid

    name = f"aq_stream_{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark = df.sparkSession
    rows = spark.table(name).collect()
    # drop the memory sink: each call registers a fresh random name, so
    # a backfill loop would otherwise pin every drained result set on
    # the driver for the session's lifetime
    spark.catalog.dropTempView(name)
    return rows


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Custom stateful operator: cross-micro-batch exact dedup — only
    the FIRST row ever seen for each key survives, no matter how many
    micro-batches (or days) apart duplicates arrive.

    Built on ``applyInPandasWithState``: state is one boolean per key in
    the state store, so memory is O(distinct keys), partitioned by key
    hash like any shuffle — the 100 TB contract. In production add a
    TTL by fingerprint horizon if unbounded key cardinality is a
    concern.

    The batch twin is ``operators/dedup.py::exact_dedup``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = df.schema
    columns = df.columns

    def keep_first(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            for _ in pdf_iter:  # drain: all duplicates
                pass
            yield pd.DataFrame(columns=columns)
            return
        first = None
        for pdf in pdf_iter:
            if first is None and len(pdf):
                first = pdf.head(1)
        state.update((True,))
        yield first if first is not None else pd.DataFrame(columns=columns)

    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .applyInPandasWithState(
            keep_first,
            outputStructType=out_schema,
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream_within_watermark(
    df: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    delay: str,
) -> DataFrame:
    """Bounded-state streaming dedup: duplicates arriving within the
    watermark horizon of the first occurrence are dropped; state for a
    key is EVICTED once the watermark passes its event time, so the
    state store holds only the horizon's distinct keys — the 100 TB
    stream contract when key cardinality is unbounded (URLs, content
    fingerprints) and exact forever-dedup
    (:func:`dedup_stream`) would grow state without bound.

    Semantics are Spark's ``dropDuplicatesWithinWatermark``: within any
    ``delay`` window the first arrival wins; a duplicate arriving
    AFTER its key's state evicted is emitted again — the deliberate
    trade for bounded state.  For exactly-once over all time, screen
    the stream against a persisted fingerprint index instead
    (``dedup_against`` / ``fuzzy_filter_against``, both stream-safe
    stream-static joins).

    ``event_time_col`` must be a timestamp column; the watermark is set
    here (idempotent if the source already set a tighter one upstream —
    Spark keeps the stricter of the two for state eviction).
    """
    if not key_cols:
        raise ValueError(
            "dedup_stream_within_watermark: key_cols must be non-empty"
        )
    missing = [c for c in [*key_cols, event_time_col] if c not in df.columns]
    if missing:
        raise ValueError(
            f"dedup_stream_within_watermark: column(s) {missing!r} not "
            "in the stream"
        )
    return df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: float = 0.0,
    upper_seconds: float = 3600.0,
    watermark: str = "10 minutes",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each left
    event matches right events with ``right_ts`` in ``[left_ts +
    lower_seconds, left_ts + upper_seconds]`` on the same key — e.g.
    impressions joined to clicks that follow within an hour.

    Both sides carry watermarks, and the range condition bounds how
    long either side's state must be buffered — Spark evicts state
    beyond ``watermark + upper_seconds``, which is what makes a
    stream-stream join runnable indefinitely at scale (an unbounded
    join would buffer both streams forever).

    Right-side columns are prefixed with ``right_prefix`` so the
    joined schema is collision-free. The batch twin is
    ``operators/temporal.py::range_join``.
    """
    clashes = [
        c for c in left.columns
        if c.startswith(right_prefix)
        and c[len(right_prefix):] in right.columns
    ]
    if clashes:
        raise ValueError(
            f"interval_join_stream: left side already has columns {clashes} "
            f"that collide with the {right_prefix!r}-prefixed right side — "
            "pass a different right_prefix"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rw = rw.select([F.col(c).alias(f"{right_prefix}{c}") for c in right.columns])
    rts = f"{right_prefix}{right_ts}"

    def _interval(seconds: float):
        # fixed-point rendering: f-string float formatting emits
        # scientific notation below 1e-4 (INTERVAL 1e-05 SECONDS is a
        # ParseException); quoted single-unit form takes decimals
        return F.expr(f"INTERVAL '{seconds:.6f}' SECOND")

    range_cond = (
        (F.col(rts) >= F.col(left_ts) + _interval(float(lower_seconds)))
        & (F.col(rts) <= F.col(left_ts) + _interval(float(upper_seconds)))
    )
    cond = range_cond
    for k in on:
        cond = (F.col(k) == F.col(f"{right_prefix}{k}")) & cond
    return lw.join(rw, cond, "inner")


def quota_stream(
    df: DataFrame,
    key_cols: list[str],
    limit: int,
) -> DataFrame:
    """Custom stateful operator: pass through at most ``limit`` rows
    per key over the whole lifetime of the stream (a streaming
    per-group LIMIT / quota enforcer — e.g. "at most N documents per
    source domain" while ingesting a crawl).

    State is a single counter per key, partitioned by key hash in the
    state store — O(distinct keys) memory, the 100 TB contract.

    Implemented on ``applyInPandasWithState``. Spark 4's successor
    API, ``transformWithStateInPandas`` (typed ValueState, state TTL,
    timers), is the production upgrade path, but its state-server
    protocol needs the ``protobuf`` package, which this environment
    does not ship — same operator shape either way.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = df.schema
    columns = df.columns

    def take_quota(key, pdf_iter, state: GroupState):
        import pandas as pd

        taken = state.get[0] if state.exists else 0
        out = []
        for pdf in pdf_iter:  # always drain the iterator
            if taken < limit and len(pdf):
                take = pdf.head(limit - taken)
                taken += len(take)
                out.append(take)
        state.update((taken,))
        yield pd.concat(out) if out else pd.DataFrame(columns=columns)

    return df.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        take_quota,
        outputStructType=out_schema,
        stateStructType="taken bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> tuple[bool, str]:
    """Whether ``transformWithStateInPandas`` — Spark 4's successor
    stateful-processing API (typed ValueState, state TTL, timers) —
    can actually RUN here.  The Python API imports fine without its
    runtime dependency, so an import-check of the operator alone would
    claim support and then fail mid-stream: the state-server wire
    protocol needs the ``protobuf`` package.  Returns (ok, reason)."""
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except Exception as exc:  # pragma: no cover - pyspark < 4
        return False, f"transformWithStateInPandas API absent: {exc}"
    try:
        import google.protobuf  # noqa: F401
    except Exception:
        return False, (
            "protobuf is not installed — transformWithStateInPandas's "
            "state-server protocol requires it"
        )
    return True, ""


def quota_stream_tws(
    df: DataFrame,
    key_cols: list[str],
    limit: int,
) -> DataFrame:
    """:func:`quota_stream` on ``transformWithStateInPandas`` — the
    documented production upgrade path (typed per-key ValueState
    instead of the tuple-typed GroupState; same operator shape, same
    O(distinct keys) state contract).  Raises with
    :func:`tws_available`'s reason when the runtime cannot support it,
    so callers never discover the protobuf dependency mid-stream."""
    ok, reason = tws_available()
    if not ok:
        raise RuntimeError(f"quota_stream_tws: {reason}")
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = df.schema
    columns = df.columns

    class _QuotaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._taken = handle.getValueState("taken", "taken BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            taken = self._taken.get()[0] if self._taken.exists() else 0
            out = []
            for pdf in rows:  # always drain the iterator
                if taken < limit and len(pdf):
                    take = pdf.head(limit - taken)
                    taken += len(take)
                    out.append(take)
            self._taken.update((taken,))
            yield pd.concat(out) if out else pd.DataFrame(columns=columns)

        def close(self) -> None:
            pass

    return df.groupBy(
        *[F.col(c) for c in key_cols]
    ).transformWithStateInPandas(
        statefulProcessor=_QuotaProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )


def running_counts_stream(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Custom stateful operator: a running total per key across the
    whole stream (state = one long per key), emitted once per
    micro-batch in which the key appears. Demonstrates accumulating
    state with ``applyInPandasWithState`` where the built-in windowed
    aggregates don't fit (no window: an all-time counter)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = list(key_cols) + ["running_count"]
    # real StructType, not a DDL string: names containing spaces/
    # colons/commas would fail DDL parsing (same defect class
    # temporal.py's __row cast documents)
    out_schema = T.StructType(
        [*df.select(*key_cols).schema.fields,
         T.StructField("running_count", T.LongType())]
    )

    def count_all(key, pdf_iter, state: GroupState):
        import pandas as pd

        n = sum(len(pdf) for pdf in pdf_iter)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame([tuple(key) + (total,)], columns=out_cols)

    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .applyInPandasWithState(
            count_all,
            outputStructType=out_schema,
            stateStructType="total bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def merge_stream_into_table(
    df: DataFrame,
    table,
    keys: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    order_col: str | None = None,
):
    """Stream-to-lakehouse CDC merge: upsert every micro-batch into a
    delta-layer table (``DeltaProtocolTable`` or any object with an
    ``upsert(df, keys)`` method) via ``foreachBatch`` — the standard
    pattern for landing a change stream in a merge-on-key table, since
    ``writeStream`` has no native MERGE sink.

    Exactly-once per batch: ``foreachBatch`` replays a failed batch
    with the same ``batch_id``, and the upsert is idempotent on the
    merge keys, so re-delivery converges to the same table state.

    Within a micro-batch, several changes to one key may arrive; the
    batch is pre-deduped to one row per key before the merge —
    mirroring delta-spark's requirement that a merge source be
    key-unique.  Pass ``order_col`` (an event-time / sequence column)
    so the LAST change wins — for CDC streams this is essential: with
    no ordering column the winner is only arbitrary-but-deterministic
    (md5 order), which is fine for idempotent snapshots but will
    resurrect overwritten states on genuine change streams.

    Returns the started StreamingQuery (already terminated when
    ``available_now``).
    """
    from pyspark.sql.window import Window

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # NULL-distinct encoding: concat_ws SKIPS null columns, so two
        # rows differing only in null placement would hash identically
        # and the "deterministic" winner would vary across foreachBatch
        # replays (breaking upsert idempotency)
        tiebreak = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00<NULL>"))
                    for c in batch_df.columns
                ],
            )
        )
        order = (
            [F.col(order_col).desc(), tiebreak.asc()]
            if order_col is not None
            else [tiebreak.asc()]
        )
        w = Window.partitionBy(*keys).orderBy(*order)
        # helper column name must not collide with a legitimate stream
        # column (a CDC schema containing '_rn' would be silently
        # overwritten and then dropped before the merge)
        rn = "_rn"
        while rn in batch_df.columns:
            rn = "_" + rn
        unique = (
            batch_df.withColumn(rn, F.row_number().over(w))
            .where(F.col(rn) == 1)
            .drop(rn)
        )
        table.upsert(unique, keys)

    writer = df.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
    else:
        query = writer.start()
    return query


def url_dedup_stream(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Streaming crawl-frontier dedup: only the FIRST document ever
    seen for each CANONICAL URL survives, across micro-batches — the
    streaming twin of ``operators/web.py::url_dedup`` built by
    composing the pure-codegen canonicalization with the stateful
    keep-first dedup (state is one boolean per canonical URL, hash
    partitioned — the 100 TB contract).

    Rows whose url is NULL pass through untouched, matching the batch
    twin: a NULL url means "no URL", not a duplicate of every other
    NULL.  (Structured Streaming cannot union a stateful branch with a
    passthrough of the same source in one query, so NULL-url rows ride
    a canonical-key sentinel unique per row instead.)
    """
    from ..operators.web import canonical_url

    canon_col = "__canonical_url"
    while canon_col in df.columns:
        canon_col = "_" + canon_col
    with_canon = df.withColumn(
        canon_col,
        F.coalesce(
            canonical_url(F.col(url_col)),
            # unique sentinel per NULL-url row -> its "key" never
            # repeats, so keep-first always keeps it
            F.concat(F.lit("\x00null:"), F.expr("uuid()")),
        ),
    )
    return dedup_stream(with_canon, [canon_col]).drop(canon_col)


def dsir_score_stream(
    df: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    buckets: int = 10_000,
    out_col: str = "logw_micro",
) -> DataFrame:
    """Streaming twin of ``operators/selection.py::dsir_weights``:
    score each streaming document against a PRE-FITTED λ table
    (``dsir_log_ratios``, possibly persisted) — "filter the live crawl
    against yesterday's model".

    Scale shape: the λ table is bounded (≤ ``buckets``+1 rows), so it
    collects ONCE at plan-build time and rides in the ``mapInPandas``
    closure — scoring is per-row, stateless, zero-shuffle, and the
    stream never waits on a join.  ``buckets`` must match the fit.

    Parity: tokenization (ASCII ``\\s+`` split of the lowercased text —
    no Python ``str.strip()``, whose Unicode-whitespace stripping the
    batch path's space-only ``trim`` does not do; the split + empty
    filter already absorbs ASCII edge whitespace), unigram+bigram grams
    incl. the short-doc partials, md5-top-60-bit bucketing, and the
    integer micro-nat sum all replicate the batch operator bit-for-bit
    — pinned by a batch-vs-stream equality test that includes
    non-ASCII-whitespace inputs.

    Throughput: VECTORIZED (VERDICT r5 next-steps #2 — this was the
    last row-at-a-time Python hot path; measured 2x on the documents
    corpus, SCALE.md r10).  Tokenization is one pandas pass
    (``str.lower`` + ``str.findall``); gram construction is numpy
    index arithmetic over the concatenated token array — unigrams are
    factorized once (``pd.factorize``) and BIGRAM STRINGS ARE NEVER
    MATERIALIZED per occurrence: a bigram is the int64 code pair
    ``left*U + right``, itself factorized, and the ``"a b"`` string is
    built only once per DISTINCT pair to feed the md5 memo.  The md5
    digest — the hot cost — thus runs once per distinct NEW gram per
    task (natural language hits the memo at roughly its type-token
    ratio); per-document sums are exact-int64 ``np.add.at`` scatters
    (partition-order independent, no float drift).
    """
    import hashlib
    import itertools
    import re

    import numpy as np
    import pandas as pd

    from ..operators.selection import DEFAULT_BUCKET

    lam_rows = ratios.collect()  # bounded by construction
    lam = {int(r["bucket"]): int(r["lam_micro"]) for r in lam_rows}
    lam0 = lam.pop(DEFAULT_BUCKET, 0)
    nonws = re.compile(r"\S+", re.ASCII)  # Java \s is ASCII-only
    _CACHE_MAX = 1_000_000  # reset guard: a stream task lives long

    def score_batches(batches):
        memo: dict = {}

        def lam_str(g: str) -> int:
            v = memo.get(g)
            if v is None:
                if len(memo) >= _CACHE_MAX:
                    memo.clear()
                b = (
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    % buckets
                )
                v = lam.get(b, lam0)
                memo[g] = v
            return v

        for pdf in batches:
            n = len(pdf)
            tok_lists = pdf[text_col].fillna("").str.lower().str.findall(nonws)
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=n
            )
            total = int(lens.sum())
            flat = np.fromiter(
                itertools.chain.from_iterable(tok_lists),
                dtype=object,
                count=total,
            )
            rowid = np.repeat(np.arange(n), lens)
            out = np.zeros(n, dtype=np.int64)
            if total:
                ucodes, uuniq = pd.factorize(flat)
                lut_u = np.fromiter(
                    (lam_str(g) for g in uuniq),
                    dtype=np.int64,
                    count=len(uuniq),
                )
                np.add.at(out, rowid, lut_u[ucodes])
                if total > 1:
                    same = rowid[:-1] == rowid[1:]
                    u_count = len(uuniq)
                    pair = (
                        ucodes[:-1][same].astype(np.int64) * u_count
                        + ucodes[1:][same]
                    )
                    pcodes, puniq = pd.factorize(pair)
                    lut_b = np.fromiter(
                        (
                            lam_str(
                                uuniq[p // u_count] + " " + uuniq[p % u_count]
                            )
                            for p in puniq
                        ),
                        dtype=np.int64,
                        count=len(puniq),
                    )
                    np.add.at(out, rowid[:-1][same], lut_b[pcodes])
            single = lens == 1  # the short-doc partial bigram: the token
            if single.any():
                offsets = np.concatenate([[0], np.cumsum(lens)])
                stoks = flat[offsets[:-1][single]]
                np.add.at(
                    out,
                    np.arange(n)[single],
                    np.fromiter(
                        (lam_str(g) for g in stoks),
                        dtype=np.int64,
                        count=len(stoks),
                    ),
                )
            empty = lens == 0  # empty doc scores the "" gram once
            if empty.any():
                out[empty] += lam_str("")
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )
    return df.mapInPandas(score_batches, schema)


def kn_score_stream(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    max_model_rows: int = 5_000_000,
) -> DataFrame:
    """Streaming twin of ``operators/text.py::kn_bigram_score``: score
    each streaming document against a PRE-FITTED external
    :func:`~aqueducts_spark.operators.text.kn_bigram_fit` model — the
    CCNet production scenario on a live crawl (CCNet ships a KenLM
    binary to every node; here the bounded model dict rides the
    ``mapInPandas`` closure the same way).  Per-row, stateless,
    zero-shuffle, no joins — stream-safe in append mode with no state
    store.

    Output: the input row plus ``n_tokens, nll_micro, avg_nll``;
    documents with no tokens (empty or NULL text) emit NO row, exactly
    like the batch scorer.  All backoff semantics match
    ``kn_bigram_score``: OOV/never-second words score the add-one
    continuation floor, an unseen prefix backs off entirely to the
    continuation distribution, an unseen bigram under a seen prefix
    gets pure discount mass.

    Scale contract: the model relation must be BOUNDED — it is
    collected once at plan-build time (guarded by ``max_model_rows``
    with a loud error; the collect itself reads at most
    ``max_model_rows + 1`` rows).  Corpus-scale models belong to the
    batch operator, whose statistics stay relational.

    Parity: tokenization (ASCII ``\\S+`` findall of the lowercased
    text — the proven equivalent of the batch path's trim/split/
    empty-filter, see ``dsir_score_stream``), per-doc distinct-gram tf
    aggregation, probability operation order, and the integer
    micro-nat quantization all replicate the batch operator, pinned by
    a batch-vs-stream equality test including OOV documents.  The one
    honest caveat: ``-ln`` is evaluated by the Python runtime here and
    the JVM in the batch path; the two libms can differ in the last
    ulp (measured ~7% of raw doubles), which the
    ``floor(x*1e6 + 0.5)`` quantization absorbs except when ``x*1e6``
    lands within an ulp of an integer boundary — the same measure-zero
    tolerance every cross-engine DuckDB oracle in this repo already
    carries.

    Throughput: a memoized per-distinct-gram loop (no md5 digest in
    this scorer — the model lookup is a dict probe, so the
    ``dsir_score_stream`` factorization machinery has nothing hot to
    amortize); the ``-ln`` runs once per distinct gram per task.
    """
    import math
    import re
    from collections import Counter

    if not 0 < discount < 1:
        raise ValueError(
            f"kn_score_stream: discount must be in (0, 1), got {discount}"
        )
    for c in ("w1", "w2", "ct"):
        if c not in model.columns:
            raise ValueError(
                "kn_score_stream: model must be a kn_bigram_fit relation "
                f"with columns (w1, w2, ct) — missing {c!r}"
            )
    clash = [
        c for c in ("n_tokens", "nll_micro", "avg_nll") if c in df.columns
    ]
    if clash:
        raise ValueError(
            f"kn_score_stream: output column(s) {clash!r} already exist "
            "on the stream — rename them first (the module's clash-guard "
            "discipline; a silent overwrite would clobber caller data)"
        )
    rows = model.limit(max_model_rows + 1).collect()
    if len(rows) > max_model_rows:
        raise ValueError(
            f"kn_score_stream: model exceeds max_model_rows="
            f"{max_model_rows} — a model this large belongs to the batch "
            "kn_bigram_score, whose statistics stay relational"
        )
    bi_ct: dict = {}
    vocab: set = set()
    for r in rows:
        if r["w1"] is None:
            raise ValueError(
                "kn_score_stream: model row with NULL w1 — not a "
                "kn_bigram_fit relation; refit or repair the model"
            )
        if r["w2"] is None:
            vocab.add(r["w1"])
        else:
            # duplicate gram rows (an unmerged union of per-shard fits)
            # merge here — counts sum, vocabulary rows dedup — the same
            # normalization kn_bigram_score applies relationally, so
            # both paths read shard unions identically
            k = (r["w1"], r["w2"])
            bi_ct[k] = bi_ct.get(k, 0) + int(r["ct"])
    v = len(vocab)
    if v <= 0:
        raise ValueError(
            "kn_score_stream: model has no unigram rows (w2 IS NULL) — "
            "not a kn_bigram_fit relation; refit or include the "
            "vocabulary rows"
        )
    ct_prefix: dict = {}
    n1p_fwd: dict = {}
    n1p_bwd: dict = {}
    for (w1, w2), ct in bi_ct.items():
        ct_prefix[w1] = ct_prefix.get(w1, 0) + ct
        n1p_fwd[w1] = n1p_fwd.get(w1, 0) + 1
        n1p_bwd[w2] = n1p_bwd.get(w2, 0) + 1
    denom = float(len(bi_ct)) + float(v)
    d = float(discount)
    nonws = re.compile(r"\S+", re.ASCII)  # Java \s is ASCII-only
    # reset guard (the dsir_score_stream lesson): a stream task lives
    # long and OOV grams are unbounded, so an uncapped memo grows
    # without bound — clear-and-refill past the cap
    _CACHE_MAX = 1_000_000

    def score_batches(batches):
        pc_memo: dict = {}
        first_memo: dict = {}
        bi_memo: dict = {}

        def pcont(w: str) -> float:
            p = pc_memo.get(w)
            if p is None:
                if len(pc_memo) >= _CACHE_MAX:
                    pc_memo.clear()
                p = (float(n1p_bwd.get(w, 0)) + 1.0) / denom
                pc_memo[w] = p
            return p

        def nll_first(w: str) -> int:
            x = first_memo.get(w)
            if x is None:
                if len(first_memo) >= _CACHE_MAX:
                    first_memo.clear()
                x = int(math.floor(-math.log(pcont(w)) * 1e6 + 0.5))
                first_memo[w] = x
            return x

        def nll_bi(g: tuple) -> float:
            x = bi_memo.get(g)
            if x is None:
                if len(bi_memo) >= _CACHE_MAX:
                    bi_memo.clear()
                cp = ct_prefix.get(g[0])
                pc = pcont(g[1])
                if cp is None:
                    p = pc
                else:
                    cpf = float(cp)
                    p = (
                        max(float(bi_ct.get(g, 0)) - d, 0.0) / cpf
                        + d * float(n1p_fwd[g[0]]) / cpf * pc
                    )
                x = -math.log(p)
                bi_memo[g] = x
            return x

        for pdf in batches:
            # tokenize as one pandas pass (the dsir_score_stream shape);
            # the scoring itself stays a memoized loop on purpose — there
            # is no md5 digest here to amortize, the per-gram work is a
            # dict probe, and -ln runs once per distinct gram per task
            tok_lists = (
                pdf[text_col].fillna("").str.lower().str.findall(nonws)
            )
            n_toks_out = []
            nll_out = []
            keep = []
            for toks in tok_lists:
                if not toks:
                    keep.append(False)
                    continue
                keep.append(True)
                nll = nll_first(toks[0])
                if len(toks) > 1:
                    tf = Counter(zip(toks, toks[1:]))
                    for g, c in tf.items():
                        nll += int(
                            math.floor(float(c) * nll_bi(g) * 1e6 + 0.5)
                        )
                n_toks_out.append(len(toks))
                nll_out.append(nll)
            out = pdf[keep].copy()
            out["n_tokens"] = [int(x) for x in n_toks_out]
            out["nll_micro"] = nll_out
            out["avg_nll"] = [
                float(m) / (float(t) * 1e6)
                for m, t in zip(nll_out, n_toks_out)
            ]
            yield out

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("n_tokens", T.LongType()),
            T.StructField("nll_micro", T.LongType()),
            T.StructField("avg_nll", T.DoubleType()),
        ]
    )
    return df.mapInPandas(score_batches, schema)
