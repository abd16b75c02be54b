"""Pipeline runner: sources -> sequential groups of parallel stages ->
destination.

Reference: aqueducts/core/src/lib.rs:68-220 — fail-fast destination
preparation (:82-91), concurrent source registration (:93-123),
parallel stage groups with barriers (:125-175), stage TTL / temp-view
reclamation by last textual use (:223-274), destination write from the
last stage of the last group (:177-190).
"""

from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor

_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.scheduler.pool",
)


def _propagate_job_group(spark, fn):
    """Carry the SUBMITTING thread's Spark job-group local properties
    into pool worker threads, so jobs they launch stay cancellable via
    cancelJobGroup (plain ThreadPoolExecutor threads do not inherit
    local properties under PySpark's pinned-thread mode)."""
    sc = spark.sparkContext
    props = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}

    def wrapped(*args, **kwargs):
        for k, v in props.items():
            if v is not None:
                sc.setLocalProperty(k, v)
        return fn(*args, **kwargs)

    return wrapped
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .config.model import Pipeline, Stage
from .destinations import prepare_destination, write_to_destination
from .functions import register_function_pack
from .progress import LoggingTracker, ProgressEvent, ProgressTracker, timer
from .sources import register_sources
from .stages import process_stage


class PipelineResult:
    def __init__(
        self,
        spark: SparkSession,
        result: Optional[DataFrame],
        streaming_query=None,
    ):
        self.spark = spark
        self.result = result
        # live StreamingQuery handle when the pipeline runs with a
        # processing_time trigger (available_now/once drain and stop
        # before run_pipeline returns, leaving this None)
        self.streaming_query = streaming_query


def _name_used_in(name: str, query: str) -> bool:
    """Word-boundary scan, as in the reference's TTL calculation
    (core/src/lib.rs:223-254).  Case-insensitive: Spark resolves view
    identifiers case-insensitively (spark.sql.caseSensitive=false
    default), so 'SELECT * FROM docs' IS a use of stage 'Docs' — a
    case-sensitive scan dropped views later stages still needed."""
    return re.search(rf"\b{re.escape(name)}\b", query, re.IGNORECASE) is not None


def compute_ttls(groups: list[list[Stage]]) -> dict[str, int]:
    """stage name -> index of the last group whose queries reference it."""
    ttl: dict[str, int] = {}
    for gi, group in enumerate(groups):
        for stage in group:
            ttl[stage.name] = gi  # at minimum, alive in its own group
    for gi, group in enumerate(groups):
        for stage in group:
            for earlier, last in list(ttl.items()):
                if earlier != stage.name and _name_used_in(earlier, stage.search_text()):
                    ttl[earlier] = max(last, gi)
    return ttl


def count_consumers(groups: list[list[Stage]], name: str, after_group: int) -> int:
    return sum(
        1
        for gi, group in enumerate(groups)
        if gi > after_group
        for stage in group
        if _name_used_in(name, stage.search_text())
    )


def run_pipeline(
    spark: SparkSession,
    pipeline: Pipeline,
    tracker: Optional[ProgressTracker] = None,
) -> PipelineResult:
    """Execute a pipeline on an existing SparkSession.

    The caller may pre-register temp views for ``in_memory`` sources and
    read back ``in_memory`` destinations afterwards (reference
    core/src/lib.rs:26-72, tests/integration.rs:36-52).
    """
    tracker = tracker or LoggingTracker()
    register_function_pack(spark)
    tracker.on_progress(ProgressEvent("started"))

    dest = pipeline.parsed_destination
    if dest is not None:
        prepare_destination(spark, dest)

    with timer() as t_src:
        register_sources(spark, pipeline.parsed_sources)
    for s in pipeline.parsed_sources:
        tracker.on_progress(
            ProgressEvent(
                "source_registered",
                name=s.name,
                # registration is one batch; the total is attached to
                # each event rather than measured and discarded
                duration_ms=t_src.elapsed_ms,
            )
        )

    if pipeline.streaming_sources:
        return _run_streaming_pipeline(spark, pipeline, tracker, dest)

    groups = pipeline.stage_groups
    ttls = compute_ttls(groups)
    stage_dfs: dict[str, DataFrame] = {}
    cached: set[str] = set()
    _views_dropped: set[str] = set()

    written = False
    try:
        for gi, group in enumerate(groups):
            def run_one(stage: Stage) -> tuple[str, DataFrame]:
                tracker.on_progress(ProgressEvent("stage_started", name=stage.name))
                with timer() as t:
                    # cache when >1 downstream consumer would otherwise
                    # recompute the whole lineage (SURVEY §7.3 policy)
                    consumers = count_consumers(groups, stage.name, gi)
                    df = process_stage(
                        spark,
                        stage,
                        tracker,
                        cache=consumers > 1,
                        sql_dialect=pipeline.sql_dialect,
                    )
                    if consumers > 1 or stage.eager or stage.explain_analyze:
                        cached.add(stage.name)
                tracker.on_progress(
                    ProgressEvent("stage_completed", name=stage.name, duration_ms=t.elapsed_ms)
                )
                return stage.name, df

            if len(group) == 1:
                name, df = run_one(group[0])
                stage_dfs[name] = df
            else:
                # parallel group with barrier (reference core/src/lib.rs:125-175);
                # Spark's scheduler is thread-safe and FAIR-schedules jobs.
                # Job-group/local properties are propagated into the pool
                # threads: plain threads don't inherit them (pinned-thread
                # mode), so jobs launched here would otherwise escape the
                # remote executor's cancelJobGroup.
                with ThreadPoolExecutor(max_workers=len(group)) as pool:
                    for name, df in pool.map(
                        _propagate_job_group(spark, run_one), group
                    ):
                        stage_dfs[name] = df

            # TTL reclamation (reference core/src/lib.rs:223-274), adapted
            # to LAZY stages: at last textual use only the view NAME goes —
            # views matter solely for resolving later stages' SQL, which
            # happens group by group, so a textually-dead name is truly
            # dead.  The CACHE stays until the destination write: downstream
            # consumers are lazy and execute nothing before it, so releasing
            # at last *textual* use would destroy a cache (including an
            # eager stage's already-paid count()) before anything read it,
            # and the write would recompute the whole lineage per branch.
            # ``spark.catalog.dropTempView`` would do exactly that (it
            # uncaches the view's plan too), so the name is removed from
            # the session catalog alone.  (View-drop scope stays cached
            # stages only: callers legitimately read UNCACHED intermediate
            # stage views after run_pipeline returns.)
            for name, last_group in ttls.items():
                if (
                    last_group <= gi
                    and gi < len(groups) - 1
                    and name in cached
                    and name not in _views_dropped
                ):
                    spark._jsparkSession.sessionState().catalog().dropTempView(name)
                    _views_dropped.add(name)

        result: Optional[DataFrame] = None
        if groups:
            final_stage = groups[-1][-1]
            result = stage_dfs[final_stage.name]

        if dest is not None:
            if result is None:
                raise ValueError("pipeline has a destination but no stages")
            with timer() as t_dst:
                write_to_destination(spark, dest, result)
            tracker.on_progress(
                ProgressEvent(
                    "destination_completed", name=dest.name, duration_ms=t_dst.elapsed_ms
                )
            )
            # the write was the last consumer of every deferred cache.  NOT
            # for in_memory destinations: their "write" is cache+view
            # registration with no action (the caller reads the view
            # later), and the result DataFrame here IS the object the
            # destination just cached — unpersisting it would make every
            # later read recompute the pipeline the cache exists to avoid.
            from .config.model import InMemoryDestination

            written = not isinstance(dest, InMemoryDestination)
    finally:
        # Release caches, blocking, so block removal is charged to this
        # run and not to the next job: after a write, all of them; else
        # (in_memory, no destination, a failed run) only the stages whose
        # views the TTL dropped — no caller can name those any more —
        # while stages whose views stay registered keep theirs.
        for name in sorted(cached if written else cached & _views_dropped):
            stage_dfs[name].unpersist(blocking=True)

    tracker.on_progress(ProgressEvent("completed"))
    return PipelineResult(spark, result)


def _run_streaming_pipeline(
    spark: SparkSession,
    pipeline: Pipeline,
    tracker: ProgressTracker,
    dest,
) -> PipelineResult:
    """Streaming execution path (any source with ``streaming: true``):
    stages resolve lazily to streaming frames and register as temp
    views exactly like batch (Spark SQL composes over streaming views),
    then the DESTINATION becomes the one ``writeStream`` sink — memory
    (named queryable view), file (append per microbatch,
    checkpoint-tracked), or delta via ``foreachBatch`` reusing the
    batch append/upsert writer (the standard exactly-once-merge shape).

    ``available_now``/``once`` triggers drain everything currently
    under the sources and RETURN (the incremental-batch recipe: run on
    a schedule, the checkpoint makes each run pick up exactly the new
    files); ``processing_time`` returns immediately with the live
    query on ``PipelineResult.streaming_query``.

    No caching/TTL machinery here: streaming frames cannot cache, and
    views stay registered for the query's lifetime.
    """
    from .config.model import (
        DeltaDestination,
        FileDestination,
        InMemoryDestination,
        StreamingSpec,
    )
    from .destinations.write import _apply_csv_options
    from .location import normalize_location
    from .stages import build_stage_df

    from .stages import emit_explain, process_stage

    spec = pipeline.parsed_streaming or StreamingSpec()
    result: Optional[DataFrame] = None
    for group in pipeline.stage_groups:
        for stage in group:
            tracker.on_progress(ProgressEvent("stage_started", name=stage.name))
            with timer() as t:
                df = build_stage_df(spark, stage, pipeline.sql_dialect)
                if df.isStreaming:
                    # streaming stage: lazy view (show/eager/
                    # explain_analyze were rejected at load); explain
                    # still works — plans exist before the query starts
                    if stage.explain:
                        emit_explain(df, stage.name, tracker)
                    df.createOrReplaceTempView(stage.name)
                    if stage.print_schema:
                        tracker.on_output(
                            stage.name, "schema", df._jdf.schema().treeString()
                        )
                else:
                    # BATCH stage (e.g. the static index build a
                    # streaming screen joins against): the full batch
                    # feature set — show/explain/eager — still applies,
                    # exactly as load-time validation promises.  The
                    # probed frame passes through so driver-side build
                    # work (model metadata reads, vocab collects) runs
                    # ONCE, not once per probe
                    df = process_stage(
                        spark,
                        stage,
                        tracker,
                        cache=False,
                        sql_dialect=pipeline.sql_dialect,
                        prebuilt=df,
                    )
            tracker.on_progress(
                ProgressEvent(
                    "stage_completed", name=stage.name, duration_ms=t.elapsed_ms
                )
            )
            result = df

    if dest is None:
        tracker.on_progress(ProgressEvent("completed"))
        return PipelineResult(spark, result)
    if result is None:
        raise ValueError("pipeline has a destination but no stages")
    if not result.isStreaming:
        raise ValueError(
            "pipeline declares streaming sources but the final stage "
            "is a static frame — the destination would write once and "
            "never see new files; route the streaming source into the "
            "final stage (or drop streaming: true)"
        )

    writer = result.writeStream.outputMode(spec.output_mode)
    if spec.trigger == "available_now":
        writer = writer.trigger(availableNow=True)
    elif spec.trigger == "once":
        writer = writer.trigger(once=True)
    else:
        writer = writer.trigger(processingTime=spec.interval)

    if isinstance(dest, InMemoryDestination):
        # no checkpoint needed: the memory sink is ephemeral by design
        writer = writer.format("memory").queryName(dest.name)
    elif isinstance(dest, FileDestination):
        location = normalize_location(dest.location, dest.storage_config)
        ckpt = spec.checkpoint_dir or (
            location.rstrip("/") + "/_streaming_checkpoint"
        )
        fmt = dest.format
        writer = (
            writer.format(fmt.type)
            .option("path", location)
            .option("checkpointLocation", ckpt)
        )
        if fmt.type == "csv":
            writer = _apply_csv_options(writer, fmt.parsed)
        elif fmt.parsed:
            writer = writer.options(**fmt.parsed)
        if dest.partition_columns:
            writer = writer.partitionBy(*dest.partition_columns)
    elif isinstance(dest, DeltaDestination):
        location = normalize_location(dest.location, dest.storage_config)
        ckpt = spec.checkpoint_dir or (
            location.rstrip("/") + "/_streaming_checkpoint"
        )
        from .destinations import write_to_destination

        def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            # each microbatch goes through the BATCH delta writer —
            # append or null-safe-keyed upsert — so the streaming and
            # batch write paths can never diverge
            write_to_destination(spark, dest, batch_df)

        writer = writer.foreachBatch(_merge_batch).option(
            "checkpointLocation", ckpt
        )
    else:  # unreachable: load-time validation rejects other types
        raise ValueError(
            f"destination type {type(dest).__name__} cannot terminate a "
            "streaming pipeline"
        )

    # streaming.shuffle_partitions: state-store partition count for
    # this query.  StreamExecution clones the session conf at start(),
    # so setting before start and restoring right after is safe even
    # for a live processing_time query — the running query keeps its
    # cloned value while the caller's session is untouched.
    _restore_parts = None
    if spec.shuffle_partitions is not None:
        _restore_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spec.shuffle_partitions)
        )
    try:
        query = writer.start()
    finally:
        if _restore_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", _restore_parts)
    if spec.trigger == "processing_time":
        tracker.on_progress(ProgressEvent("completed"))
        return PipelineResult(spark, result, streaming_query=query)
    with timer() as t_dst:
        finished = query.awaitTermination(spec.timeout_sec)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"streaming pipeline did not drain within streaming."
            f"timeout_sec={spec.timeout_sec} — raise it for large "
            "backlogs"
        )
    tracker.on_progress(
        ProgressEvent(
            "destination_completed", name=dest.name, duration_ms=t_dst.elapsed_ms
        )
    )
    # after a drained trigger the streaming frame is useless to the
    # caller (no action works on it) — hand back a BATCH view of what
    # the sink now holds instead (in_memory destination parity)
    if isinstance(dest, InMemoryDestination):
        result = spark.table(dest.name)
    elif isinstance(dest, FileDestination):
        location = normalize_location(dest.location, dest.storage_config)
        reader = spark.read.format(dest.format.type)
        if dest.format.type in ("csv", "json"):
            # pin the DECLARED schema instead of inferring: inference
            # would retype look-alike strings ('00123' -> 123) and the
            # read-back must carry exactly what the pipeline drained
            reader = reader.schema(result.schema)
        if dest.format.type == "csv":
            o = dest.format.parsed
            reader = reader.option(
                "header", str(o.has_header).lower()
            ).option("sep", o.delimiter)
        result = reader.load(location)
    elif isinstance(dest, DeltaDestination):
        from .delta import delta_layer

        result = delta_layer(spark).read(
            normalize_location(dest.location, dest.storage_config)
        )
    tracker.on_progress(ProgressEvent("completed"))
    return PipelineResult(spark, result)


def explain_pipeline(
    spark: SparkSession, pipeline: Pipeline
) -> list[dict]:
    """Pre-flight plan review: register sources, resolve every stage
    lazily, and return per-stage formatted physical plans plus scale
    lint warnings (``plans.lint_plan``) — SQL stages plan with zero
    execution and the destination is never written. The cheap way to
    answer "would this pipeline's shuffles/joins survive 100 TB?"
    before paying for the full compute.

    Caveat: OPERATOR stages whose plan depends on data (IVF centroid
    training collects its bounded sample, connected-components runs its
    propagation rounds, LSH probes the vector dimensionality) execute
    that work during explain too — their physical plan cannot exist
    without it.  Pure-expression operator stages and all SQL stages
    stay unexecuted.

    Stages still register as temp views (later stages reference
    earlier ones by name), exactly as in a real run.
    """
    from .plans import lint_plan
    from .stages import build_stage_df

    register_function_pack(spark)
    register_sources(spark, pipeline.parsed_sources)

    reports: list[dict] = []
    from .plans.inspect import inspect_plan, lint_info

    for group in pipeline.stage_groups:
        for stage in group:
            df = build_stage_df(spark, stage, pipeline.sql_dialect)
            df.createOrReplaceTempView(stage.name)
            # ONE explainString JVM round-trip per stage: the lint is
            # derived from the same PlanInfo as the printed plan
            info = inspect_plan(df)
            reports.append(
                {
                    "stage": stage.name,
                    "plan": info.text,
                    "warnings": lint_info(info),
                }
            )
    return reports


def run_pipeline_file(
    spark: SparkSession,
    path: str,
    params: Optional[dict[str, str]] = None,
    tracker: Optional[ProgressTracker] = None,
) -> PipelineResult:
    from .config.loader import load_pipeline

    return run_pipeline(spark, load_pipeline(path, params), tracker)
