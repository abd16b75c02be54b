"""Source registration: each source becomes a named temp view.

Reference behavior: aqueducts/core/src/sources/mod.rs (file scans
:229-295, directory scans :301-391, in-memory :124-133), ODBC
aqueducts/odbc/src/lib.rs:50-82, Delta aqueducts/delta/src/lib.rs:45-74.

Spark-first notes (scale):

* File/directory reads stay fully lazy — registering a source costs one
  schema inference at most; Catalyst pushes filters/projections from
  later stages down into these scans (verify with ``df.explain``:
  ``PushedFilters`` / ``ReadSchema``).
* Directory sources use Spark's native hive-partition discovery
  (``basePath``), so partition-column predicates prune entire
  directories at 100 TB — equivalent to the reference's listing-table
  partition columns.
* JDBC sources are *eager* in the reference (whole query materialized);
  we mirror that with ``.cache()`` but keep the read itself distributed
  (``numPartitions``/``partitionColumn`` options pass through).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config.model import (
    DeltaSource,
    DirSource,
    FileSource,
    InMemorySource,
    OdbcSource,
    Source,
)
from ..delta import delta_layer
from ..location import normalize_location
from ..storage import apply_storage_config
from ..types import fields_to_struct


class SourceError(RuntimeError):
    pass


def _read_file_format(spark: SparkSession, fmt, location: str) -> DataFrame:
    opts = fmt.parsed
    if fmt.type == "csv":
        reader = (
            spark.read.option("header", str(opts.has_header).lower())
            .option("sep", opts.delimiter)
        )
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(location)
    if fmt.type == "json":
        reader = spark.read
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
        return reader.json(location)
    if fmt.type == "parquet":
        reader = spark.read
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
        return reader.parquet(location)
    if fmt.type == "orc":
        reader = spark.read
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
        return reader.orc(location)
    if fmt.type == "binary":
        return _binary_postfilter(
            _apply_raw_file_options(
                spark.read.format("binaryFile"), opts
            ).load(location),
            opts,
        )
    if fmt.type == "text":
        return _apply_raw_file_options(
            spark.read.format("text"), opts
        ).load(location)
    raise SourceError(f"unsupported file format: {fmt.type}")


def _apply_raw_file_options(reader, opts):
    """Shared option wiring for the raw-file sources (``binaryFile``
    and ``text``) — ONE place, so a new option cannot silently apply to
    the file path but not the directory path (or vice versa)."""
    if getattr(opts, "wholetext", False):
        # one document per FILE: the whole file must fit in one task's
        # row, so pair wholetext with upstream size limits
        reader = reader.option("wholetext", "true")
    if getattr(opts, "line_sep", None):
        reader = reader.option("lineSep", opts.line_sep)
    if opts.path_glob_filter:
        reader = reader.option("pathGlobFilter", opts.path_glob_filter)
    if opts.recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader


def _binary_postfilter(df: DataFrame, opts) -> DataFrame:
    """``max_bytes`` guards a 100 TB media crawl against a pathological
    giant file landing in one task's memory — the filter runs on file
    METADATA (``length``), before content is read."""
    if opts.max_bytes is not None:
        df = df.where(F.col("length") <= opts.max_bytes)
    return df


def _read_file_format_stream(
    spark: SparkSession,
    fmt,
    location: str,
    base_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`_read_file_format` (Structured
    Streaming file source: new files under ``location`` arrive as
    microbatches; checkpoint bookkeeping lives with the SINK).  An
    explicit schema is mandatory — already validated at load time
    (config/model.py::_validate_streaming) but re-checked here for
    direct callers."""
    opts = fmt.parsed
    reader = spark.readStream
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if max_files_per_trigger is not None:
        # backpressure: bound each microbatch's NEW-file intake so a
        # large backlog catches up in bounded steps (under available_now
        # the drain still completes — just in several microbatches)
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if fmt.type in ("csv", "json", "parquet", "orc"):
        if not opts.schema_:
            raise SourceError(
                f"streaming {fmt.type} source requires an explicit schema"
            )
        reader = reader.schema(fields_to_struct(opts.schema_))
        if fmt.type == "csv":
            reader = reader.option(
                "header", str(opts.has_header).lower()
            ).option("sep", opts.delimiter)
        return reader.format(fmt.type).load(location)
    if fmt.type == "text":
        return _apply_raw_file_options(reader.format("text"), opts).load(
            location
        )
    raise SourceError(f"unsupported streaming file format: {fmt.type}")


def _apply_watermark(df: DataFrame, source) -> DataFrame:
    """Attach the declared event-time watermark (validated at load:
    ``{column, delay}``) — the state-retention bound for windowed
    aggregations/joins over the stream.  The column must exist and be
    a timestamp; Spark raises its own clear error otherwise."""
    wm = getattr(source, "watermark", None)
    if wm is None:
        return df
    if wm["column"] not in df.columns:
        raise SourceError(
            f"streaming source '{source.name}': watermark column "
            f"{wm['column']!r} not in the declared schema "
            f"(found: {df.columns})"
        )
    return df.withWatermark(wm["column"], str(wm["delay"]))


def _register_file(spark: SparkSession, source: FileSource) -> DataFrame:
    location = normalize_location(source.location, source.storage_config)
    apply_storage_config(spark, location, source.storage_config)
    if source.streaming:
        df = _read_file_format_stream(
            spark, source.format, location,
            max_files_per_trigger=source.max_files_per_trigger,
        )
        return _apply_watermark(df, source)
    return _read_file_format(spark, source.format, location)


def _register_directory(spark: SparkSession, source: DirSource) -> DataFrame:
    location = normalize_location(source.location, source.storage_config)
    apply_storage_config(spark, location, source.storage_config)
    fmt = source.format
    opts = fmt.parsed
    if source.streaming:
        # streaming directory scan: hive partitions discover via
        # basePath exactly as in batch; the typed partition casts
        # below apply to the streaming frame identically
        df = _read_file_format_stream(
            spark, fmt, location, base_path=location,
            max_files_per_trigger=source.max_files_per_trigger,
        )
        from ..types import parse_data_type

        for col_name, dtype_str in source.partition_columns:
            if col_name not in df.columns:
                raise SourceError(
                    f"declared partition column '{col_name}' not found in "
                    f"directory source '{source.name}' (found: {df.columns})"
                )
            df = df.withColumn(
                col_name, F.col(col_name).cast(parse_data_type(dtype_str))
            )
        return _apply_watermark(df, source)
    reader = spark.read.option("basePath", location)
    if fmt.type == "csv":
        reader = (
            reader.format("csv")
            .option("header", str(opts.has_header).lower())
            .option("sep", opts.delimiter)
        )
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
        else:
            reader = reader.option("inferSchema", "true")
    elif fmt.type == "json":
        reader = reader.format("json")
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
    elif fmt.type in ("parquet", "orc"):
        reader = reader.format(fmt.type)
        if opts.schema_:
            reader = reader.schema(fields_to_struct(opts.schema_))
    elif fmt.type in ("binary", "text"):
        # binaryFile/text discover hive partitions like any file
        # source (basePath is already set above) — but Spark's
        # recursiveFileLookup DISABLES partition inference, so the two
        # knobs together can never work; fail fast instead of letting
        # the partition-column check below produce a confusing error
        if opts.recursive and source.partition_columns:
            raise SourceError(
                f"directory source '{source.name}': options.recursive "
                "disables Spark's hive-partition discovery and cannot "
                "be combined with partition_columns — drop one of the "
                "two (hive 'col=value/' layouts are discovered without "
                "recursive)"
            )
        reader = _apply_raw_file_options(
            reader.format("binaryFile" if fmt.type == "binary" else "text"),
            opts,
        )
    else:
        raise SourceError(f"unsupported directory format: {fmt.type}")

    # Spark discovers hive-style `col=value/` partitions automatically;
    # recursive glob covers the reference's nested layout. Partition
    # columns get cast to their declared types afterwards
    # (reference sources/mod.rs:311-318 declares them typed up front).
    df = reader.load(location)
    if fmt.type == "binary":
        df = _binary_postfilter(df, opts)
    from ..types import parse_data_type

    for col_name, dtype_str in source.partition_columns:
        if col_name not in df.columns:
            raise SourceError(
                f"declared partition column '{col_name}' not found in "
                f"directory source '{source.name}' (found: {df.columns})"
            )
        df = df.withColumn(col_name, F.col(col_name).cast(parse_data_type(dtype_str)))
    return df


def _register_odbc(spark: SparkSession, source: OdbcSource) -> DataFrame:
    """Database source over JDBC; the reference loads eagerly
    (odbc/src/lib.rs:50-82) so we cache the result view.

    Scale path: pass ``partitionColumn``/``lowerBound``/``upperBound``/
    ``numPartitions`` in ``options`` for a parallel partitioned read —
    Spark requires ``dbtable`` (not ``query``) for that, so the load
    query is wrapped as a derived table automatically."""
    opts = dict(source.options)
    reader = spark.read.format("jdbc").option("url", source.connection_string)
    # Spark's JDBC option map is case-insensitive — honor any spelling
    # of partitionColumn, else 'query' + the user's option collide
    if any(k.lower() == "partitioncolumn" for k in opts):
        reader = reader.option("dbtable", f"({source.load_query}) aq_subq")
    else:
        reader = reader.option("query", source.load_query)
    for k, v in opts.items():
        reader = reader.option(k, v)
    df = reader.load().cache()
    # actually EAGER, like the reference (odbc/src/lib.rs:50-82): a bare
    # .cache() is lazy, so an invalid query / unreachable database would
    # surface only at the first downstream stage; the count materializes
    # the cache and fails registration fast
    df.count()
    return df


def _register_delta(spark: SparkSession, source: DeltaSource) -> DataFrame:
    location = normalize_location(source.location, source.storage_config)
    apply_storage_config(spark, location, source.storage_config)
    if source.changes_from is not None:
        if source.version is not None or source.timestamp is not None:
            raise SourceError(
                "delta source: changes_from is mutually exclusive with "
                "version/timestamp (a diff is not a snapshot)"
            )
        layer = delta_layer(spark)
        if layer.native and source.change_feed:  # pragma: no cover - needs delta-spark
            # native readChangeFeed matches change_feed semantics
            # (per-commit rows, inclusive startingVersion); the
            # endpoint-diff default must NOT silently become CDF rows
            # on clusters that happen to have delta-spark — different
            # columns, change types, and inclusivity would make the
            # same YAML return different results per environment
            reader = (
                spark.read.format("delta")
                .option("readChangeFeed", "true")
                .option("startingVersion", source.changes_from)
            )
            if source.changes_to is not None:
                reader = reader.option("endingVersion", source.changes_to)
            return reader.load(location)
        table = layer.table(location)
        if source.change_feed:
            # changes_from is INCLUSIVE (native readChangeFeed
            # startingVersion semantics); change_feed's v_from is
            # exclusive, hence the -1
            return table.change_feed(
                source.changes_from - 1, source.changes_to
            )
        return table.changes(source.changes_from, source.changes_to)
    if source.changes_to is not None:
        raise SourceError("delta source: changes_to requires changes_from")
    if source.change_feed:
        raise SourceError("delta source: change_feed requires changes_from")
    return delta_layer(spark).read(
        location, version=source.version, timestamp=source.timestamp
    )


def register_source(spark: SparkSession, source: Source) -> DataFrame:
    """Register one source as a temp view named ``source.name``."""
    if isinstance(source, InMemorySource):
        # existence check only (reference core/src/sources/mod.rs:124-133)
        if not _view_exists(spark, source.name):
            raise SourceError(
                f"in_memory source '{source.name}' is not registered in this session"
            )
        return spark.table(source.name)
    if isinstance(source, FileSource):
        df = _register_file(spark, source)
    elif isinstance(source, DirSource):
        df = _register_directory(spark, source)
    elif isinstance(source, OdbcSource):
        df = _register_odbc(spark, source)
    elif isinstance(source, DeltaSource):
        df = _register_delta(spark, source)
    else:
        raise SourceError(f"unknown source type: {type(source).__name__}")
    df.createOrReplaceTempView(source.name)
    return df


def register_sources(
    spark: SparkSession, sources: list[Source], max_workers: int = 8
) -> dict[str, DataFrame]:
    """Register sources concurrently (reference core/src/lib.rs:93-123).

    Reads are lazy, so concurrency parallelizes schema inference and
    eager JDBC loads; the Spark scheduler is thread-safe.
    """
    names = [s.name for s in sources]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        # Pipeline validation normally catches this; direct callers
        # must not have a duplicate silently overwrite a registration
        # (and swallow its exception with it)
        raise SourceError(f"duplicate source name(s): {dupes}")
    out: dict[str, DataFrame] = {}
    if len(sources) <= 1:
        for s in sources:
            out[s.name] = register_source(spark, s)
        return out
    from ..pipeline import _propagate_job_group

    reg = _propagate_job_group(spark, register_source)
    with ThreadPoolExecutor(max_workers=min(max_workers, len(sources))) as pool:
        futures = [(s.name, pool.submit(reg, spark, s)) for s in sources]
        for name, fut in futures:
            out[name] = fut.result()
    return out


def _view_exists(spark: SparkSession, name: str) -> bool:
    try:
        spark.table(name)
        return True
    except Exception:
        return False
