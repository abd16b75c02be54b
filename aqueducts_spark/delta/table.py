"""Delta table layer: append / upsert (MERGE) / replace, with snapshot
isolation and time travel.

Reference semantics (aqueducts/delta/src/lib.rs):

* create-if-absent with declared schema + partition columns + properties
  (lib.rs:141-163);
* append with cast/validation preamble (lib.rs:177-199, 331-362);
* upsert = MERGE on key columns with null-safe equality, and list-typed
  keys comparing as *sets* (order-insensitive, both-empty, both-null)
  (lib.rs:240-328, list predicate :266-278);
* replace = conditional overwrite from ``column = value`` conditions,
  empty conditions -> full overwrite (lib.rs:203-231, 365-375);
* version / timestamp time travel on reads (lib.rs:45-74).

:class:`DeltaLayer` picks the engine: delta-spark when its session
extension is configured (the production path on a real cluster),
otherwise :class:`~aqueducts_spark.delta.protocol.DeltaProtocolTable`,
which reads and writes the real ``_delta_log`` format itself.  This
module holds the MERGE and replace predicates and the cast preamble
the two engines use.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..location import to_local_path
from ..types import Field

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable  # type: ignore

    HAVE_DELTA_SPARK = True
except ImportError:
    HAVE_DELTA_SPARK = False


class DeltaTableError(RuntimeError):
    pass


def merge_key_condition(df_schema: T.StructType, keys: list[str], left: str, right: str) -> Column:
    """Build the MERGE ON condition for ``keys``.

    Scalar keys: null-safe equality (``<=>``). Array-typed keys compare
    as sets: equal when both null, both empty, or mutually containing
    (reference aqueducts/delta/src/lib.rs:266-284).
    """
    cond: Optional[Column] = None
    by_name = {f.name: f for f in df_schema.fields}
    for key in keys:
        fld = by_name.get(key)
        lcol = F.col(f"{left}.{key}")
        rcol = F.col(f"{right}.{key}")
        if fld is not None and isinstance(fld.dataType, T.ArrayType):
            both_null = lcol.isNull() & rcol.isNull()
            both_empty = (F.size(lcol) == 0) & (F.size(rcol) == 0)
            set_eq = (
                lcol.isNotNull()
                & rcol.isNotNull()
                & (F.size(F.array_except(lcol, rcol)) == 0)
                & (F.size(F.array_except(rcol, lcol)) == 0)
            )
            key_cond = both_null | both_empty | set_eq
        else:
            key_cond = lcol.eqNullSafe(rcol)
        cond = key_cond if cond is None else (cond & key_cond)
    if cond is None:
        raise DeltaTableError("merge requires at least one key column")
    return cond


def build_replace_predicate(conditions: list[tuple[str, str]]) -> Column:
    """``[(col, value), ...]`` -> ``col1 = v1 AND col2 = v2``; empty -> true
    (reference aqueducts/delta/src/lib.rs:365-375)."""
    pred: Optional[Column] = None
    for column, value in conditions:
        c = F.col(column) == F.lit(value)
        pred = c if pred is None else (pred & c)
    return pred if pred is not None else F.lit(True)


def build_replace_predicate_sql(conditions: list[tuple[str, str]]) -> str:
    """SQL-text form of :func:`build_replace_predicate` for delta-spark's
    ``replaceWhere`` option, which takes a predicate STRING.  Values are
    quoted as SQL literals (Catalyst's ``Column.toString`` renders them
    bare, which parses as column references)."""
    if not conditions:
        return "true"
    parts = []
    for column, value in conditions:
        col = "`" + str(column).replace("`", "``") + "`"
        lit = "'" + str(value).replace("'", "''") + "'"
        parts.append(f"{col} = {lit}")
    return " AND ".join(parts)


def cast_to_schema(df: DataFrame, fields: list[Field]) -> DataFrame:
    """Cast/validate input to the declared table schema before writing
    (reference aqueducts/delta/src/lib.rs:331-362): every declared column
    must exist; each is cast to the declared type; column order follows
    the declaration."""
    cols = []
    available = set(df.columns)
    missing = [f.name for f in fields if f.name not in available]
    if missing:
        raise DeltaTableError(
            f"input is missing columns declared in destination schema: {missing}"
        )
    for f in fields:
        cols.append(F.col(f.name).cast(f.spark_type).alias(f.name))
    return df.select(*cols)


def parse_travel_timestamp(timestamp: str) -> float:
    """Epoch seconds of a time-travel timestamp.  ZONE-LESS inputs are
    UTC: commit timestamps are UTC epochs, and the native delta-spark
    path resolves timestampAsOf in the session timezone (UTC in our
    sessions) — interpreting naive strings in the OS-local zone made
    the same YAML select snapshots hours apart depending on whether
    delta-spark was installed."""
    import datetime as _dt

    parsed = _dt.datetime.fromisoformat(timestamp.replace("Z", "+00:00"))
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=_dt.timezone.utc)
    return parsed.timestamp()


class DeltaLayer:
    """Dispatch between delta-spark (when installed and configured) and
    the pure-Python Delta-protocol implementation (the default — real
    ``_delta_log`` format, interoperable with delta-rs / delta-spark /
    DuckDB-delta)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.native = HAVE_DELTA_SPARK and _native_enabled(spark)

    def read(
        self, location: str, version: Optional[int] = None, timestamp: Optional[str] = None
    ) -> DataFrame:
        if self.native:  # pragma: no cover
            reader = self.spark.read.format("delta")
            if version is not None:
                reader = reader.option("versionAsOf", version)
            elif timestamp is not None:
                reader = reader.option("timestampAsOf", timestamp)
            return reader.load(location)
        return self.table(location).read(version, timestamp)

    def table(self, location: str):
        """The Delta-protocol table at ``location``.  A table still in
        the retired ``_aqueducts_delta_log`` format is refused: a write
        would otherwise start an empty Delta table over its data."""
        from .protocol import LOG_DIR, DeltaProtocolTable
        from .upgrade import LEGACY_LOG_DIR

        root = to_local_path(location)
        if (root / LEGACY_LOG_DIR).is_dir() and not (root / LOG_DIR).is_dir():
            raise DeltaTableError(
                f"{root} is in the retired {LEGACY_LOG_DIR} format; convert "
                f"it once with `aqueducts-spark delta-upgrade {root}`"
            )
        return DeltaProtocolTable(self.spark, location)


def _native_enabled(spark: SparkSession) -> bool:  # pragma: no cover
    return "io.delta.sql.DeltaSparkSessionExtension" in (
        spark.conf.get("spark.sql.extensions", "") or ""
    )


def delta_layer(spark: SparkSession) -> DeltaLayer:
    return DeltaLayer(spark)
