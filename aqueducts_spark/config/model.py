"""Pipeline configuration model (pydantic v2).

Mirrors the reference's config surface — same YAML field names, tag
discriminators, aliases and defaults — so that reference pipeline
documents parse unchanged:

* pipeline shape: reference aqueducts/schemas/src/lib.rs:86-102
* sources:        reference aqueducts/schemas/src/sources.rs
* stages:         reference aqueducts/schemas/src/stages.rs:35-61
* destinations:   reference aqueducts/schemas/src/destinations.rs

Differences from the reference (documented, Spark-motivated):

* ``odbc`` sources/destinations are executed over JDBC (Spark has a
  first-class JDBC reader/writer; there is no ODBC bridge on the JVM).
  The config shape is accepted unchanged; ``connection_string`` must be
  a JDBC URL.
* ``stages`` may be a flat list (each stage its own sequential group)
  or a list of lists (inner list = parallel group), as in the reference.
"""

from __future__ import annotations

import re
from typing import Any, Literal, Optional, Union

from pydantic import BaseModel, ConfigDict, Field as PField, field_validator, model_validator

from ..types import Field as TypedField, parse_fields

_MODEL_CONFIG = ConfigDict(populate_by_name=True, extra="forbid")


class _Base(BaseModel):
    model_config = _MODEL_CONFIG


def _coerce_schema(v: Any) -> list[TypedField]:
    if v is None:
        return []
    return parse_fields(v)


# ---------------------------------------------------------------------------
# Source file formats (tag = "type", content = "options")
# ---------------------------------------------------------------------------


class CsvSourceOptions(_Base):
    has_header: bool = True
    delimiter: str = ","
    schema_: list[Any] = PField(default_factory=list, alias="schema")

    @field_validator("schema_")
    @classmethod
    def _parse_schema(cls, v: Any) -> list[TypedField]:
        return _coerce_schema(v)

    @field_validator("delimiter")
    @classmethod
    def _one_char(cls, v: str) -> str:
        if len(v) != 1:
            raise ValueError("delimiter must be a single character")
        return v


class ParquetSourceOptions(_Base):
    schema_: list[Any] = PField(default_factory=list, alias="schema")

    @field_validator("schema_")
    @classmethod
    def _parse_schema(cls, v: Any) -> list[TypedField]:
        return _coerce_schema(v)


class JsonSourceOptions(_Base):
    schema_: list[Any] = PField(default_factory=list, alias="schema")

    @field_validator("schema_")
    @classmethod
    def _parse_schema(cls, v: Any) -> list[TypedField]:
        return _coerce_schema(v)


class BinarySourceOptions(_Base):
    """Options for Spark's ``binaryFile`` source: whole files as rows
    (``path, modificationTime, length, content``) — the multimodal
    ingestion path for images/audio/video payloads."""

    path_glob_filter: Optional[str] = None
    recursive: bool = False
    max_bytes: Optional[int] = None

    @field_validator("max_bytes")
    @classmethod
    def _positive(cls, v: Optional[int]) -> Optional[int]:
        if v is not None and v < 1:
            raise ValueError("max_bytes must be >= 1")
        return v


class TextSourceOptions(_Base):
    """Options for Spark's ``text`` source: raw text as one ``value``
    row per line (default) or per file (``wholetext`` — one document
    per file, the raw-corpus ingestion path)."""

    wholetext: bool = False
    line_sep: Optional[str] = None
    path_glob_filter: Optional[str] = None
    recursive: bool = False


class SourceFileType(_Base):
    """Tagged union: {type: csv|json|parquet|orc|binary|text,
    options: {...}}."""

    type: str
    options: Optional[dict[str, Any]] = None
    parsed: Union[
        CsvSourceOptions,
        ParquetSourceOptions,
        JsonSourceOptions,
        BinarySourceOptions,
        TextSourceOptions,
        None,
    ] = PField(default=None, exclude=True)

    @field_validator("type")
    @classmethod
    def _norm_type(cls, v: str) -> str:
        t = v.strip().lower()
        if t not in ("csv", "json", "parquet", "orc", "binary", "text"):
            raise ValueError(f"unsupported source file format: {v}")
        return t

    @model_validator(mode="after")
    def _parse_options(self) -> "SourceFileType":
        opts = self.options or {}
        cls = {
            "csv": CsvSourceOptions,
            "json": JsonSourceOptions,
            "parquet": ParquetSourceOptions,
            # ORC is a free Spark-native columnar format (the reference
            # supports csv/json/parquet only); schema override like parquet
            "orc": ParquetSourceOptions,
            # binaryFile: opaque media payloads as binary columns
            "binary": BinarySourceOptions,
            # raw text: one value row per line or per file (wholetext)
            "text": TextSourceOptions,
        }[self.type]
        object.__setattr__(self, "parsed", cls.model_validate(opts))
        return self


# ---------------------------------------------------------------------------
# Sources (tag = "type")
# ---------------------------------------------------------------------------


class InMemorySource(_Base):
    type: Literal["in_memory"] = "in_memory"
    name: str


class FileSource(_Base):
    type: Literal["file"] = "file"
    name: str
    format: SourceFileType = PField(alias="file_type")
    location: str
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")
    # streaming: true registers the location as a Structured Streaming
    # file source (readStream) instead of a batch scan — new files
    # landing under the location flow through the pipeline
    # incrementally.  Requires an explicit schema in the format options
    # (streaming scans cannot infer), and the pipeline must use a
    # stream-capable destination (Spark extension; the reference has
    # no streaming surface).
    streaming: bool = False
    # bound how many NEW files one microbatch ingests (Spark's
    # maxFilesPerTrigger) — the backpressure knob for catching up on a
    # large backlog without one giant microbatch; streaming only
    max_files_per_trigger: Optional[int] = None
    # event-time watermark (Spark withWatermark): how late data may
    # arrive before its state is dropped — REQUIRED for update/append
    # windowed aggregations over the stream, recommended whenever SQL
    # stages aggregate by event time; streaming only
    watermark: Optional[Any] = None


class DirSource(_Base):
    type: Literal["directory"] = "directory"
    name: str
    format: SourceFileType = PField(alias="file_type")
    partition_columns: list[Any] = PField(default_factory=list, alias="partition_cols")
    location: str
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")
    # see FileSource.streaming — hive-partition discovery (basePath)
    # and typed partition casts apply to the stream identically
    streaming: bool = False
    # see FileSource.max_files_per_trigger
    max_files_per_trigger: Optional[int] = None
    # see FileSource.watermark
    watermark: Optional[Any] = None

    @field_validator("partition_columns")
    @classmethod
    def _norm_partitions(cls, v: list[Any]) -> list[tuple[str, str]]:
        """Accept tuple form ``[name, dtype]`` or object form
        ``{name: ..., data_type: ...}`` (reference serde_helpers.rs:45-82)."""
        out: list[tuple[str, str]] = []
        for item in v:
            if isinstance(item, dict):
                out.append((item["name"], str(item["data_type"])))
            elif isinstance(item, (list, tuple)) and len(item) == 2:
                out.append((str(item[0]), str(item[1])))
            else:
                raise ValueError(f"invalid partition column spec: {item!r}")
        return out


class OdbcSource(_Base):
    """Database source; executed via Spark JDBC (connection_string = JDBC URL)."""

    type: Literal["odbc"] = "odbc"
    name: str
    load_query: str = PField(alias="query")
    connection_string: str
    # Spark JDBC reader options passthrough (Spark extension): e.g.
    # partitionColumn/lowerBound/upperBound/numPartitions for a
    # parallel partitioned read, fetchsize, sessionInitStatement
    options: dict[str, str] = PField(default_factory=dict)


class DeltaSource(_Base):
    type: Literal["delta"] = "delta"
    name: str
    location: str
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")
    version: Optional[int] = None
    timestamp: Optional[str] = None
    # CDF mode (beyond reference): rows changed between two versions
    # (insert/delete tagged) instead of a snapshot
    changes_from: Optional[int] = None
    changes_to: Optional[int] = None
    # change_feed: true switches changes_from/changes_to from the
    # endpoint multiset diff to spec CDF semantics — per-commit
    # granularity with _commit_version, cdc actions used when present
    change_feed: bool = False


Source = Union[InMemorySource, FileSource, DirSource, OdbcSource, DeltaSource]

_SOURCE_TYPES = {
    "in_memory": InMemorySource,
    "inmemory": InMemorySource,
    "file": FileSource,
    "directory": DirSource,
    "odbc": OdbcSource,
    "database": OdbcSource,
    "delta": DeltaSource,
}


def parse_source(raw: dict[str, Any]) -> Source:
    t = str(raw.get("type", "")).strip().lower()
    cls = _SOURCE_TYPES.get(t)
    if cls is None:
        raise ValueError(f"unknown source type: {raw.get('type')!r}")
    # old-format configs tag variants in PascalCase ("File", "Csv") —
    # the reference aliases them (schemas/tests/integration.rs:10-47)
    return cls.model_validate({**raw, "type": t})


# ---------------------------------------------------------------------------
# Stages
# ---------------------------------------------------------------------------


class Stage(_Base):
    name: str
    # exactly one of `query` (SQL stage, reference parity) or `operator`
    # (declarative training-data operator, Spark extension) must be set
    query: Optional[str] = None
    operator: Optional[dict[str, Any]] = None
    show: Optional[int] = None
    explain: bool = False
    explain_analyze: bool = False
    print_schema: bool = False
    # Spark-specific extension: eagerly materialize (cache+count) this
    # stage's result. Default False — lazy is the right default at scale.
    eager: bool = False

    @model_validator(mode="after")
    def _one_of_query_operator(self) -> "Stage":
        if (self.query is None) == (self.operator is None):
            raise ValueError(
                f"stage '{self.name}': exactly one of 'query' or 'operator' required"
            )
        if self.operator is not None:
            # unknown type, misspelt or missing options fail at load,
            # not when the stage first runs
            from ..operators.registry import OperatorError, bind

            try:
                bind(self.operator)
            except OperatorError as exc:
                raise ValueError(f"stage '{self.name}': {exc}") from None
        return self

    def search_text(self) -> str:
        """Text scanned for upstream table references (TTL computation)."""
        if self.query is not None:
            return self.query
        from ..operators.registry import referenced_tables

        return " ".join(referenced_tables(self.operator or {}))


# ---------------------------------------------------------------------------
# Destinations
# ---------------------------------------------------------------------------


class CsvDestinationOptions(_Base):
    has_header: bool = True
    delimiter: str = ","
    compression: Optional[str] = None


class DestinationFileType(_Base):
    type: str
    options: Optional[dict[str, Any]] = None
    parsed: Union[CsvDestinationOptions, dict[str, str], None] = PField(
        default=None, exclude=True
    )

    @field_validator("type")
    @classmethod
    def _norm_type(cls, v: str) -> str:
        t = v.strip().lower()
        if t not in ("csv", "json", "parquet", "orc"):
            raise ValueError(f"unsupported destination file format: {v}")
        return t

    @model_validator(mode="after")
    def _parse_options(self) -> "DestinationFileType":
        opts = self.options or {}
        if self.type == "csv":
            object.__setattr__(self, "parsed", CsvDestinationOptions.model_validate(opts))
        elif self.type in ("parquet", "orc", "json"):
            # json options (compression, dateFormat, ...) pass through to
            # the writer like parquet/orc — dropping them silently wrote
            # uncompressed output no matter what the pipeline declared
            object.__setattr__(self, "parsed", {str(k): str(v) for k, v in opts.items()})
        else:
            object.__setattr__(self, "parsed", None)
        return self


class InMemoryDestination(_Base):
    type: Literal["in_memory"] = "in_memory"
    name: str


class BucketSpec(_Base):
    """Spark bucketing for co-located joins/aggregations: rows are
    hash-bucketed (and optionally sorted) by the given columns at write
    time, so equi-joins and groupBys on those columns need no shuffle.
    Spark extension (the reference's DataFusion has no bucketed
    tables); the table registers in the session catalog under the
    destination name — point a Hive metastore at the warehouse for
    cross-session reuse."""

    columns: list[str]
    buckets: int
    sort_by: list[str] = PField(default_factory=list)

    @model_validator(mode="after")
    def _check(self) -> "BucketSpec":
        if not self.columns:
            raise ValueError("bucket_by.columns must be non-empty")
        if self.buckets <= 0:
            raise ValueError("bucket_by.buckets must be positive")
        return self


class FileDestination(_Base):
    type: Literal["file"] = "file"
    name: str
    location: str
    format: DestinationFileType = PField(alias="file_type")
    single_file: bool = True
    partition_columns: list[str] = PField(default_factory=list, alias="partition_cols")
    bucket_by: Optional[BucketSpec] = None
    # data clustering (Spark extension): range-repartition + sort by
    # these columns before writing, so each output file covers a tight
    # min/max range and scans with predicates on them prune whole
    # files/row-groups (the linear cousin of Delta Z-ORDER)
    cluster_by: list[str] = PField(default_factory=list)
    # optional explicit output-file count for cluster_by (default: let
    # Spark/AQE size the range partitions)
    cluster_files: Optional[int] = None
    # multi-dimensional clustering (Spark extension): interleave the
    # bits of these columns into a Morton key and range-sort by it, so
    # each file covers a small hyper-rectangle and predicates on ANY
    # subset of the columns prune files (Delta OPTIMIZE ZORDER BY
    # semantics, as a plain write-time expression)
    zorder_by: list[str] = PField(default_factory=list)
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")

    @model_validator(mode="after")
    def _bucket_rules(self) -> "FileDestination":
        if self.bucket_by is not None and self.single_file:
            raise ValueError("bucket_by requires single_file: false")
        if self.cluster_by and self.single_file:
            raise ValueError("cluster_by requires single_file: false")
        if self.cluster_by and self.bucket_by is not None:
            raise ValueError("cluster_by and bucket_by are mutually exclusive")
        if self.zorder_by:
            if len(self.zorder_by) < 2:
                raise ValueError("zorder_by needs >= 2 columns (use cluster_by for 1)")
            if self.single_file:
                raise ValueError("zorder_by requires single_file: false")
            if self.cluster_by or self.bucket_by is not None:
                raise ValueError(
                    "zorder_by is mutually exclusive with cluster_by/bucket_by"
                )
        return self


class CustomStatements(_Base):
    pre_insert: Optional[str] = None
    insert: str


class OdbcWriteMode(_Base):
    """{operation: append} or {operation: custom, transaction: {...}}."""

    operation: str
    transaction: Optional[CustomStatements] = None

    @field_validator("operation")
    @classmethod
    def _norm(cls, v: str) -> str:
        t = v.strip().lower()
        if t not in ("append", "custom"):
            raise ValueError(f"unknown odbc write operation: {v}")
        return t

    @model_validator(mode="after")
    def _require_transaction(self) -> "OdbcWriteMode":
        if self.operation == "custom" and self.transaction is None:
            raise ValueError("custom write mode requires a transaction block")
        return self


class OdbcDestination(_Base):
    type: Literal["odbc"] = "odbc"
    name: str
    connection_string: str
    write_mode: OdbcWriteMode
    batch_size: int = 1000


class ReplaceCondition(_Base):
    column: str
    value: str

    @field_validator("value", mode="before")
    @classmethod
    def _coerce_value(cls, v: Any) -> str:
        """YAML parses unquoted dates/numbers as typed scalars; the
        reference predicate compares them as strings
        (delta/src/lib.rs:365-375 build_replace_predicate)."""
        import datetime

        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return v if isinstance(v, str) else str(v)


class DeltaWriteMode(_Base):
    """{operation: append | upsert | replace, params: ...}."""

    operation: str
    params: Optional[Any] = None
    merge_keys: list[str] = PField(default_factory=list, exclude=True)
    replace_conditions: list[ReplaceCondition] = PField(default_factory=list, exclude=True)

    @field_validator("operation")
    @classmethod
    def _norm(cls, v: str) -> str:
        t = v.strip().lower()
        if t not in ("append", "upsert", "replace"):
            raise ValueError(f"unknown delta write operation: {v}")
        return t

    @model_validator(mode="after")
    def _parse_params(self) -> "DeltaWriteMode":
        if self.operation == "upsert":
            raw = self.params or []
            if isinstance(raw, (str, bytes)):
                # iterating a scalar would silently use its CHARACTERS
                # as merge keys ('id' -> ['i', 'd'])
                raise ValueError(
                    f"upsert params must be a LIST of key columns, got the "
                    f"string {raw!r} — write params: [{raw!s}]"
                )
            if not isinstance(raw, (list, tuple)):
                # a mapping would silently use its KEYS as merge keys;
                # any other scalar raises a raw TypeError mid-iteration
                raise ValueError(
                    f"upsert params must be a LIST of key columns, got "
                    f"{type(raw).__name__}: {raw!r}"
                )
            keys = [str(k) for k in raw]
            if not keys:
                raise ValueError("upsert requires at least one merge key column")
            object.__setattr__(self, "merge_keys", keys)
        elif self.operation == "replace":
            conds = [ReplaceCondition.model_validate(c) for c in (self.params or [])]
            object.__setattr__(self, "replace_conditions", conds)
        return self


class DeltaDestination(_Base):
    type: Literal["delta"] = "delta"
    name: str
    location: str
    write_mode: DeltaWriteMode = PField(alias="mode")
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")
    partition_columns: list[str] = PField(default_factory=list, alias="partition_cols")
    table_properties: dict[str, Optional[str]] = PField(default_factory=dict)
    metadata: dict[str, str] = PField(default_factory=dict, alias="custom_metadata")
    schema_: list[Any] = PField(default_factory=list, alias="schema")

    @field_validator("schema_")
    @classmethod
    def _parse_schema(cls, v: Any) -> list[TypedField]:
        return _coerce_schema(v)


class IvfIndexDestination(_Base):
    """Beyond-reference: persist the pipeline result as an IVF ANN
    index — corpus written partitioned by centroid_id plus a centroid
    parquet (operators/similarity.py::ivf_persist), queryable with
    partition-pruned probes (ivf_topk_persisted)."""

    type: Literal["ivf_index"] = "ivf_index"
    name: str
    location: str
    n_centroids: int = 16
    seed: int = 42
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")


class PqIndexDestination(_Base):
    """Beyond-reference: persist the pipeline result as an IVFPQ ANN
    index — PQ codes written partitioned by centroid_id, centroids +
    codebooks parquets, optional flat floats refine store
    (operators/similarity.py::pq_persist), queryable with
    partition-pruned ADC probes (ivfpq_topk_persisted)."""

    type: Literal["pq_index"] = "pq_index"
    name: str
    location: str
    n_centroids: int = 16
    n_subspaces: int = 8
    n_pq_centroids: int = 16
    seed: int = 42
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    store_floats: bool = True
    # FAISS by_residual: PQ codes quantize x - coarse_centroid (better
    # recall at the same M under a clustered corpus); the flag persists
    # in the index meta and the reader routes on it
    by_residual: bool = False
    storage_config: dict[str, str] = PField(default_factory=dict, alias="storage_options")


Destination = Union[
    InMemoryDestination,
    FileDestination,
    OdbcDestination,
    DeltaDestination,
    IvfIndexDestination,
    PqIndexDestination,
]

_DEST_TYPES = {
    "in_memory": InMemoryDestination,
    "inmemory": InMemoryDestination,
    "file": FileDestination,
    "odbc": OdbcDestination,
    "database": OdbcDestination,
    "delta": DeltaDestination,
    "ivf_index": IvfIndexDestination,
    "pq_index": PqIndexDestination,
}


def parse_destination(raw: dict[str, Any]) -> Destination:
    t = str(raw.get("type", "")).strip().lower()
    cls = _DEST_TYPES.get(t)
    if cls is None:
        raise ValueError(f"unknown destination type: {raw.get('type')!r}")
    return cls.model_validate({**raw, "type": t})


# ---------------------------------------------------------------------------
# Pipeline
# ---------------------------------------------------------------------------


# Operators a STREAMING stage may declare: stateless row-local maps
# and stream-static joins only — each runs identically on a streaming
# frame because it neither aggregates, sorts, windows, nor collects
# the streaming side.  NOT here (despite being screens): simhash /
# fuzzy_filter_against / decontaminate — each AGGREGATES per document
# (bit-count sums, the signature groupBy, the overlap count), which on
# a stream means a state store; their stream twins are the rowwise
# forms (hamming_filter over a stored signature column,
# fuzzy_decontam_rowwise's per-row band keys + condition anti-join).
# Stateful streaming (sessionize, sketches, CDC merge, stream-stream
# joins) stays in the Python API (streaming/ops.py) where watermarks
# and state are explicit.
STREAM_SAFE_OPERATORS = frozenset(
    {
        "hamming_filter",
        "hamming_filter_wide",
        "fuzzy_decontam_rowwise",
        "dedup_against",
        "quality_score",
        "text_features",
        "langid",
        "fingerprint",
        "token_count",
        "bpe_encode",
        "tokens_to_ids",
        "redact_pii",
        "strip_markup",
        "normalize_text",
        "luhn_cards",
        "url_parts",
        "url_blocklist",
        "registered_domain_psl",
        "random_projection",
        "quantize_embeddings",
        "pq_encode",
        "chunk_documents",
        "repetition_features",
    }
)


class StreamingSpec(_Base):
    """Pipeline-level streaming execution parameters (only meaningful
    when at least one source declares ``streaming: true``).

    ``trigger: available_now`` (default) drains everything currently
    under the source locations and stops — the incremental-batch shape
    (run the pipeline on a schedule, each run picks up exactly the new
    files, checkpoint-tracked).  ``once`` is the legacy
    single-microbatch form; ``processing_time`` runs continuously with
    ``interval`` (e.g. "10 seconds") between microbatches —
    ``run_pipeline`` then RETURNS with the live query handle on the
    result instead of blocking.
    """

    trigger: Literal["available_now", "once", "processing_time"] = (
        "available_now"
    )
    interval: Optional[str] = None
    # checkpoint directory (exactly-once bookkeeping).  Defaults to
    # <destination location>/_streaming_checkpoint for file/delta
    # sinks; the memory sink needs none.
    checkpoint_dir: Optional[str] = None
    # bound for awaiting an available_now/once drain before failing
    timeout_sec: float = 600.0
    output_mode: Literal["append", "update", "complete"] = "append"
    # state/shuffle partition count for THIS streaming query, applied
    # around start()+drain and restored afterwards.  Stateful operators
    # pin their state-store partition count to spark.sql.shuffle
    # .partitions at the FIRST batch, and every batch then pays a
    # per-partition state commit — measured at sf0.1: a 100k-row
    # windowed agg drains in 1.1 s with 8 partitions vs 4.3 s with 32
    # (state commit overhead, not compute).  Size it to the expected
    # state volume: small scheduled incremental drains want few
    # partitions; a 100 TB backfill wants the session default or more.
    # Ignored (with a load-time error) if <= 0.
    shuffle_partitions: Optional[int] = None

    @model_validator(mode="after")
    def _check(self) -> "StreamingSpec":
        if self.trigger == "processing_time" and not self.interval:
            raise ValueError(
                "streaming.trigger=processing_time requires "
                "streaming.interval (e.g. '10 seconds')"
            )
        if self.trigger != "processing_time" and self.interval:
            raise ValueError(
                "streaming.interval is only valid with "
                "trigger=processing_time"
            )
        if self.timeout_sec <= 0:
            raise ValueError("streaming.timeout_sec must be positive")
        if self.shuffle_partitions is not None and self.shuffle_partitions <= 0:
            raise ValueError(
                "streaming.shuffle_partitions must be positive"
            )
        return self


class Pipeline(_Base):
    """A full pipeline document: sources -> stage groups -> destination."""

    version: Optional[str] = None
    sources: list[Any]
    stages: list[Any]
    destination: Optional[Any] = None
    # streaming execution parameters; see StreamingSpec
    streaming: Optional[Any] = None
    parsed_streaming: Optional[Any] = PField(default=None, exclude=True)
    # "datafusion" translates every stage query through the dialect
    # compat layer (functions/compat.py) so reference pipelines run
    # unmodified; default is plain Spark SQL.
    sql_dialect: Optional[str] = None
    # parsed views
    parsed_sources: list[Any] = PField(default_factory=list, exclude=True)
    stage_groups: list[list[Stage]] = PField(default_factory=list, exclude=True)
    parsed_destination: Optional[Any] = PField(default=None, exclude=True)

    @model_validator(mode="after")
    def _parse_all(self) -> "Pipeline":
        def _one_source(s):
            if isinstance(s, dict):
                return parse_source(s)
            if not hasattr(s, "name"):
                raise ValueError(
                    f"pipeline source entries must be mappings, got {s!r}"
                )
            return s

        def _one_stage(s):
            if isinstance(s, dict):
                return Stage.model_validate(s)
            if not hasattr(s, "name"):
                # e.g. 'stages: ["SELECT 1"]' — a bare string would
                # otherwise surface as a raw AttributeError downstream
                raise ValueError(
                    f"pipeline stage entries must be mappings with name/"
                    f"query, got {s!r}"
                )
            return s

        object.__setattr__(
            self, "parsed_sources", [_one_source(s) for s in self.sources]
        )
        groups: list[list[Stage]] = []
        for entry in self.stages:
            if isinstance(entry, list):
                groups.append([_one_stage(s) for s in entry])
            else:
                groups.append([_one_stage(entry)])
        object.__setattr__(self, "stage_groups", groups)
        if self.destination is not None:
            if isinstance(self.destination, dict):
                dest = parse_destination(self.destination)
            elif hasattr(self.destination, "name"):
                dest = self.destination  # already-parsed model object
            else:
                # a bare string would pass load-time validation and
                # only crash in the write path after the whole pipeline
                # computed — the fail-fast gap _one_stage closes for
                # stages applies here too
                raise ValueError(
                    f"pipeline destination must be a mapping, got "
                    f"{self.destination!r}"
                )
            object.__setattr__(self, "parsed_destination", dest)
        names = [s.name for s in self.parsed_sources] + [
            st.name for g in groups for st in g
        ]
        dest = self.parsed_destination
        if dest is not None and getattr(dest, "type", None) == "in_memory":
            # the in_memory destination registers a temp view by name —
            # a collision with a stage/source would pass the fail-fast
            # check (the view doesn't exist yet) and crash only AFTER
            # the whole pipeline computed
            names.append(dest.name)
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate table names in pipeline: {sorted(dupes)}")
        self._validate_streaming()
        return self

    @property
    def streaming_sources(self) -> list[Any]:
        return [
            s for s in self.parsed_sources if getattr(s, "streaming", False)
        ]

    def _validate_streaming(self) -> None:
        """Load-time validation of the streaming surface — every rule
        here fails FAST instead of as an opaque AnalysisException when
        the query starts."""
        if self.streaming is not None:
            spec = (
                self.streaming
                if isinstance(self.streaming, StreamingSpec)
                else StreamingSpec.model_validate(self.streaming)
            )
            object.__setattr__(self, "parsed_streaming", spec)
        for s in self.parsed_sources:
            for opt in ("max_files_per_trigger", "watermark"):
                if (
                    getattr(s, opt, None) is not None
                    and not getattr(s, "streaming", False)
                ):
                    raise ValueError(
                        f"source '{s.name}': {opt} is a streaming "
                        "option — set streaming: true"
                    )
            wm = getattr(s, "watermark", None)
            if wm is not None and (
                not isinstance(wm, dict)
                or not wm.get("column")
                or not wm.get("delay")
            ):
                raise ValueError(
                    f"source '{s.name}': watermark must be "
                    "{column: <event-time column>, delay: '<interval>'}"
                    " (e.g. delay: '10 minutes')"
                )
        stream_srcs = self.streaming_sources
        if not stream_srcs:
            if self.parsed_streaming is not None:
                raise ValueError(
                    "pipeline declares a streaming: block but no source "
                    "has streaming: true — mark the incremental source"
                )
            return
        # schema is mandatory on streaming scans (no inference)
        for s in stream_srcs:
            fmt = getattr(s, "format", None)
            if fmt is not None and fmt.type in ("csv", "json", "parquet", "orc"):
                opts = fmt.parsed
                if not getattr(opts, "schema_", None):
                    raise ValueError(
                        f"streaming source '{s.name}': an explicit schema "
                        "is required (streaming file scans cannot infer "
                        "one) — add format.options.schema"
                    )
            if fmt is not None and fmt.type == "binary":
                raise ValueError(
                    f"streaming source '{s.name}': binary streaming is "
                    "not supported declaratively — use the batch source "
                    "on a schedule"
                )
            mft = getattr(s, "max_files_per_trigger", None)
            if mft is not None and mft < 1:
                raise ValueError(
                    f"streaming source '{s.name}': max_files_per_trigger "
                    f"must be >= 1, got {mft}"
                )
        # which stages are STREAMING?  Transitive textual scan from the
        # streaming source names (the TTL calculation's word-boundary
        # rule): a stage referencing a streaming name produces a
        # streaming frame; stages touching only batch sources (e.g. the
        # minhash_signatures index build a streaming screen joins
        # against) stay batch and keep the full batch feature set
        stream_names = {s.name for s in stream_srcs}
        for group in self.stage_groups:
            for st in group:
                text = st.search_text()
                if any(
                    re.search(rf"\b{re.escape(n)}\b", text, re.IGNORECASE)
                    for n in stream_names
                ):
                    stream_names.add(st.name)
        for group in self.stage_groups:
            for st in group:
                if st.name not in stream_names:
                    continue
                # stream-incompatible flags: show/eager force an action
                # on an unstarted streaming frame, explain_analyze
                # re-executes one
                bad = [
                    f
                    for f, on in (
                        ("show", st.show is not None),
                        ("eager", bool(getattr(st, "eager", False))),
                        (
                            "explain_analyze",
                            bool(getattr(st, "explain_analyze", False)),
                        ),
                    )
                    if on
                ]
                if bad:
                    raise ValueError(
                        f"stage '{st.name}': {'/'.join(bad)} cannot run on "
                        "a streaming stage in a streaming pipeline (no "
                        "action exists before the query starts) — use a "
                        "memory destination and query it, or drop the flag"
                    )
                # streaming operator stages must be stream-safe
                # (stateless row-local maps or stream-static joins);
                # everything else needs the Python streaming API
                # (streaming/ops.py) where watermarks/state are explicit
                if st.operator is not None:
                    op = st.operator["type"]
                    if op not in STREAM_SAFE_OPERATORS:
                        raise ValueError(
                            f"stage '{st.name}': operator '{op}' is not "
                            "stream-safe (it aggregates, sorts, or "
                            "collects) — stream-safe operators: "
                            f"{sorted(STREAM_SAFE_OPERATORS)}; for stateful "
                            "streaming use aqueducts_spark.streaming.ops"
                        )
        spec = self.parsed_streaming
        if spec is not None and spec.trigger == "once":
            for s in stream_srcs:
                if getattr(s, "max_files_per_trigger", None) is not None:
                    raise ValueError(
                        f"streaming source '{s.name}': "
                        "max_files_per_trigger has no effect under "
                        "trigger: once (Spark's Once trigger ingests the "
                        "whole backlog as ONE batch) — use available_now, "
                        "which honors the bound across microbatches"
                    )
        dest = self.parsed_destination
        if dest is None:
            # a destination-less streaming pipeline can do NOTHING
            # observable: no query ever starts, show/eager are banned
            # on streaming stages, and the returned frame supports no
            # action — reject instead of reporting a no-op 'completed'
            raise ValueError(
                "a streaming pipeline needs a destination (memory/file/"
                "delta) — without one no query starts and nothing is "
                "observable"
            )
        mode = spec.output_mode if spec is not None else "append"
        dtype = getattr(dest, "type", None)
        if spec is not None and spec.checkpoint_dir and dtype == "in_memory":
            raise ValueError(
                "streaming.checkpoint_dir has no effect with an "
                "in_memory destination — the memory sink keeps no "
                "checkpoint, every run re-drains everything; use a "
                "file/delta destination for exactly-once bookkeeping"
            )
        if dtype == "file":
            if mode != "append":
                # Spark's file sink is append-only; a complete/update
                # query would die at start() with an opaque error
                raise ValueError(
                    f"streaming output_mode '{mode}' cannot write to a "
                    "file destination (the file sink is append-only) — "
                    "use in_memory (append/complete) or delta"
                )
            if dest.single_file:
                raise ValueError(
                    "streaming file destination requires single_file: "
                    "false (a stream appends files per microbatch)"
                )
            if dest.bucket_by or dest.cluster_by or dest.zorder_by:
                raise ValueError(
                    "streaming file destination cannot bucket/cluster/"
                    "zorder (those are whole-relation sorts); compact "
                    "offline instead"
                )
        elif dtype == "in_memory" and mode == "update":
            raise ValueError(
                "streaming output_mode 'update' is not supported by the "
                "memory sink — use complete (the dashboard shape) or a "
                "delta destination (foreachBatch handles update)"
            )
        elif dtype == "delta":
            wmode = getattr(dest, "write_mode", None)
            op = getattr(wmode, "operation", None) if wmode else None
            if op not in (None, "append", "upsert"):
                raise ValueError(
                    "streaming delta destination supports append/upsert "
                    f"write modes (got {op!r}); replace rewrites history "
                    "per microbatch"
                )
            if mode in ("update", "complete") and op != "upsert":
                # update re-emits CHANGED rows and complete the WHOLE
                # result each microbatch — appending either duplicates
                # keys silently; only a keyed merge is correct
                raise ValueError(
                    f"streaming output_mode '{mode}' with a delta "
                    "destination requires write_mode operation: upsert "
                    "(append would re-append each microbatch's "
                    "re-emitted rows, silently duplicating keys)"
                )
        elif dtype != "in_memory":
            raise ValueError(
                f"destination type '{dtype}' cannot terminate a streaming "
                "pipeline — use in_memory, file, or delta"
            )


# ---------------------------------------------------------------------------
# JSON-schema emission (editor autocomplete / validation)
# ---------------------------------------------------------------------------


class PipelineDocument(_Base):
    """Typed mirror of :class:`Pipeline` used only to EMIT a JSON schema
    for editors (``aqueducts-spark schema``), the Spark counterpart of
    the reference's published ``json_schema/aqueducts.schema.json``
    (generated by its ``tools/schema-generator``; wired into YAML
    editing via the ``yaml-language-server: $schema=...`` header, see
    reference docs/content/pipelines.md).

    :class:`Pipeline` itself keeps ``list[Any]`` fields because load
    paths feed it pre-parsed model instances as well as raw dicts; this
    mirror declares the raw-document shape — discriminated source /
    destination unions and flat-or-grouped stages — which is exactly
    what an editor should validate against.
    """

    version: Optional[str] = None
    sources: list[Source]
    stages: list[Union[Stage, list[Stage]]]
    destination: Optional[Destination] = None
    sql_dialect: Optional[Literal["spark", "datafusion"]] = None
    streaming: Optional[StreamingSpec] = None


def pipeline_json_schema() -> dict:
    """JSON Schema (draft 2020-12, pydantic emission) for pipeline
    documents in the v2 format. The v1 compatibility PascalCase tags
    are load-time rewrites in ``config/loader.py`` and deliberately not
    part of the published schema, matching the reference schema's
    v2-only coverage.

    Every aliased field is accepted under BOTH spellings (pydantic
    emits only the alias, but ``populate_by_name=True`` means loaders
    accept either — e.g. ``format:`` and ``file_type:`` — so the
    editor schema must too)."""
    import copy

    schema = PipelineDocument.model_json_schema()
    schema["title"] = "AqueductsSparkPipeline"
    schema["$schema"] = "https://json-schema.org/draft/2020-12/schema"

    models: dict[str, type] = {
        cls.__name__: cls
        for cls in globals().values()
        if isinstance(cls, type) and issubclass(cls, BaseModel)
    }
    for def_name, def_schema in schema.get("$defs", {}).items():
        model = models.get(def_name)
        props = def_schema.get("properties")
        if model is None or not isinstance(props, dict):
            continue
        required = def_schema.get("required", [])
        for field_name, field in model.model_fields.items():
            alias = field.alias
            if not alias or alias == field_name or alias not in props:
                continue
            props[field_name] = copy.deepcopy(props[alias])
            if alias in required:
                required.remove(alias)
                def_schema.setdefault("allOf", []).append(
                    {"anyOf": [{"required": [alias]}, {"required": [field_name]}]}
                )
        if "required" in def_schema and not def_schema["required"]:
            del def_schema["required"]
    return schema
