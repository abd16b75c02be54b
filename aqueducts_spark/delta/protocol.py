"""Native Delta Lake transaction-log tables, without delta-spark.

Implements the open Delta protocol (delta.io ``PROTOCOL.md``) directly:
``_delta_log/{version:020d}.json`` commits containing ``protocol`` /
``metaData`` / ``add`` / ``remove`` / ``commitInfo`` actions, classic
parquet checkpoints plus ``_last_checkpoint``, URL-encoded relative file
paths, and stringly-typed ``partitionValues``.  Tables written here are
readable by delta-rs / delta-spark / DuckDB-delta, and tables written by
those engines (reader version <= 3) are readable here.  It is the
table layer's only log format; a table in the retired private log
format is converted once by :mod:`aqueducts_spark.delta.upgrade`.

Reference semantics mirrored (aqueducts/delta/src/lib.rs):

* create-if-absent with declared schema + partition columns + properties
  (lib.rs:141-163), with additive-only schema migration;
* append with cast/validation preamble (lib.rs:177-199, 331-362);
* upsert = MERGE on key columns, copy-on-write (lib.rs:240-328);
* replace = conditional overwrite (lib.rs:203-231, 365-375);
* version / timestamp time travel on reads (lib.rs:45-74).

Scale shape: all data movement is distributed ``df.write.parquet`` /
``spark.read.parquet``; only the JSON/Arrow action log (KB-scale per
commit) touches the driver, same as every Delta implementation.  On a
real cluster with delta-spark installed the ``DeltaLayer`` dispatches to
the native connector instead; this module is the default when it is
absent.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path
from typing import Any, Iterable, Optional, Sequence
from urllib.parse import quote, unquote

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..location import to_local_path
from ..types import Field, fields_to_struct
from .table import DeltaTableError, merge_key_condition, build_replace_predicate

LOG_DIR = "_delta_log"
CDC_DIR = "_change_data"
# the retired log format's dir; ``delta-upgrade`` keeps it as the rollback
LEGACY_LOG_DIR = "_aqueducts_delta_log"
LAST_CHECKPOINT = "_last_checkpoint"
CHECKPOINT_INTERVAL = 10
# column :meth:`DeltaProtocolTable._read_snapshot` adds with ``with_file``
_FILE_COL = "__file"

# reader features this implementation understands; anything else in a
# protocol-v3 readerFeatures list is refused loudly rather than misread
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "v2Checkpoint",
    # r8: read-side deletion-vector support (delta/deletion_vectors.py)
    # — rows whose positions appear in an add action's DV bitmap are
    # filtered via _metadata.row_index; WRITES to DV tables stay
    # refused (writerFeatures check in check_writable)
    "deletionVectors",
    # r9: read-side column-mapping support (modes name/id — see the
    # _Snapshot.column_mapping_mode section); WRITES to mapped tables
    # stay refused (check_writable)
    "columnMapping",
}
# v2Checkpoint is accepted only when classic-named checkpoints exist too

# writer features this implementation can honor when committing to a
# feature-table (minWriterVersion 7) — each by ENFORCEMENT, never by
# silently ignoring it: "appendOnly" forbids remove-producing ops
# (check_writable), "invariants" and "checkConstraints" are validated
# per-row during the staging write (enforced_predicates + _prepare).
_SUPPORTED_WRITER_FEATURES = {
    "timestampNtz", "appendOnly", "invariants", "checkConstraints",
    "changeDataFeed",
    # r10: append-only column-mapping write support (physical-name
    # staging in append()); non-append commits on mapped tables are
    # refused per-operation in check_writable
    "columnMapping",
    # accepted as a FEATURE LISTING only — a schema actually declaring
    # a delta.generationExpression is refused (_refuse_generated_columns)
    "generatedColumns",
}


class DeltaProtocolError(DeltaTableError):
    pass


def _physical_struct(
    struct: T.StructType, mode: str, field_ids: bool = False
) -> T.StructType:
    """``struct`` with every field — at every nesting level — renamed to
    its ``delta.columnMapping.physicalName`` metadata.  Identity when
    ``mode`` is none; a mapped field missing its physicalName is a
    protocol violation and is refused loudly (guessing would silently
    read the wrong column).

    ``field_ids=True`` additionally stamps each field's
    ``delta.columnMapping.id`` as ``parquet.field.id`` metadata — the
    key Spark's parquet reader uses (with
    ``spark.sql.parquet.fieldId.read.enabled``) to match columns by
    field ID instead of by name, which is how a spec-compliant
    ``mode=id`` table whose parquet columns are NOT physically named
    must be read."""
    if mode in ("none", "None"):
        return struct

    def conv_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([conv_field(f) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(conv_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                conv_type(dt.keyType),
                conv_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    def conv_field(f: T.StructField) -> T.StructField:
        md = f.metadata or {}
        phys = md.get("delta.columnMapping.physicalName")
        if not phys:
            raise DeltaProtocolError(
                f"columnMapping mode {mode!r}: field {f.name!r} carries no "
                "delta.columnMapping.physicalName metadata — the table's "
                "schemaString violates the column-mapping spec"
            )
        new_md = None
        if field_ids:
            fid = md.get("delta.columnMapping.id")
            if fid is None:
                raise DeltaProtocolError(
                    f"columnMapping mode {mode!r}: field {f.name!r} carries "
                    "no delta.columnMapping.id metadata — field-id matching "
                    "is impossible and name matching already failed"
                )
            new_md = {"parquet.field.id": int(fid)}
        return T.StructField(
            str(phys), conv_type(f.dataType), f.nullable, new_md
        )

    return T.StructType([conv_field(f) for f in struct.fields])


def _to_logical(
    df: DataFrame, physical: T.StructType, logical: T.StructType
) -> DataFrame:
    """Rename a physically-named frame back to logical names: per
    top-level field, a cast to the logical field's (same-shaped)
    dataType renames every NESTED field by position, and the alias
    renames the column itself.  Extra columns beyond the table schema
    (``_change_type``/CDF metadata) pass through by name."""
    extras = [c for c in df.columns if c not in {f.name for f in physical.fields}]
    return df.select(
        *[
            F.col(pf.name).cast(lf.dataType).alias(lf.name)
            for pf, lf in zip(physical.fields, logical.fields)
        ],
        *extras,
    )


# marker of a row that failed a constraint assertion of
# DeltaProtocolTable._prepare, inside the Spark error that carries it
_VIOLATION = "DELTA-CONSTRAINT-VIOLATION"


@contextmanager
def _surface_violations():
    """Re-raise a Spark job failure caused by a constraint assertion of
    :meth:`DeltaProtocolTable._prepare` as :class:`DeltaProtocolError`
    naming the constraint; any other failure passes through."""
    try:
        yield
    except Exception as exc:
        msg = str(exc)
        if _VIOLATION in msg:
            detail = msg[msg.index(_VIOLATION):]
            raise DeltaProtocolError(detail.splitlines()[0]) from exc
        raise


# Java's URI path encoding (what Hadoop Path.toString / Spark's
# _metadata.file_path emit): percent-encode characters ILLEGAL in a URI
# path, leave unreserved + sub-delims (so '=' in hive partition dirs
# stays literal while ' ' becomes %20) and non-ASCII raw
_URI_PATH_SAFE = "/!$&'()*+,;=:@-._~"


def _java_uri_quote(path: str) -> str:
    out: list[str] = []
    for ch in path:
        if (ch.isascii() and ch.isalnum()) or ch in _URI_PATH_SAFE or ord(ch) > 127:
            out.append(ch)
        else:
            out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
    return "".join(out)


# ---------------------------------------------------------------------------
# snapshot state
# ---------------------------------------------------------------------------


class _Snapshot:
    def __init__(self) -> None:
        self.version: int = -1
        self.protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        self.metadata: Optional[dict] = None
        self.files: dict[str, dict] = {}  # decoded path -> add action
        # remove tombstones and setTransaction watermarks are invisible
        # to OUR reads but the spec requires checkpoints to carry them:
        # external engines rely on tombstones for VACUUM and on txn for
        # idempotent stream writes
        self.tombstones: dict[str, dict] = {}  # decoded path -> remove action
        self.txns: dict[str, dict] = {}  # appId -> txn action

    def apply(self, action: dict) -> None:
        if "protocol" in action:
            self.protocol = action["protocol"]
        elif "metaData" in action:
            self.metadata = action["metaData"]
        elif "add" in action:
            add = action["add"]
            path = unquote(add["path"])
            self.files[path] = add
            self.tombstones.pop(path, None)
        elif "remove" in action:
            remove = action["remove"]
            path = unquote(remove["path"])
            self.files.pop(path, None)
            self.tombstones[path] = remove
        elif "txn" in action:
            txn = action["txn"]
            if txn.get("appId") is not None:
                self.txns[txn["appId"]] = txn
        # commitInfo / cdc / domainMetadata carry no replay state

    def restricted(self, paths: Iterable[str]) -> "_Snapshot":
        """This snapshot with only the live files ``paths``."""
        out = copy.copy(self)
        out.files = {p: self.files[p] for p in paths}
        return out

    def schema(self) -> T.StructType:
        if self.metadata is None or not self.metadata.get("schemaString"):
            raise DeltaProtocolError("table has no metaData.schemaString")
        return T.StructType.fromJson(json.loads(self.metadata["schemaString"]))

    def partition_columns(self) -> list[str]:
        return list((self.metadata or {}).get("partitionColumns") or [])

    # ----- column mapping (r9, read side) --------------------------------
    #
    # With delta.columnMapping.mode = name|id (PROTOCOL.md "Column
    # Mapping"; the reference's pinned delta-rs reads such tables,
    # aqueducts/delta/src/lib.rs:45-74), parquet files name their
    # columns by each field's `delta.columnMapping.physicalName`
    # metadata (a stable `col-<uuid>`), so logical renames never touch
    # data files — and the transaction log tracks partitionValues,
    # partition directories and statistics by PHYSICAL name too.  The
    # reader therefore runs the whole scan in physical terms and
    # renames to logical names as its last projection.  Mode `id`
    # additionally stamps parquet field ids; delta-spark writes the
    # physicalName alongside in both modes and names the parquet
    # columns with it, so physical-name matching reads both (a field
    # MISSING its physicalName is refused loudly, never guessed).
    # The WRITE side stays refused (check_writable): committing to a
    # mapped table requires physical-name assignment and stats-key
    # discipline this engine does not implement.

    def column_mapping_mode(self) -> str:
        conf = (self.metadata or {}).get("configuration") or {}
        return str(conf.get("delta.columnMapping.mode") or "none")

    def physical_schema(self) -> T.StructType:
        return _physical_struct(self.schema(), self.column_mapping_mode())

    def physical_partition_columns(self) -> list[str]:
        phys = {
            f.name: p.name
            for f, p in zip(self.schema().fields, self.physical_schema().fields)
        }
        return [phys[c] for c in self.partition_columns()]

    def check_readable(self) -> None:
        p = self.protocol
        reader = int(p.get("minReaderVersion", 1))
        conf = (self.metadata or {}).get("configuration") or {}
        mapping = conf.get("delta.columnMapping.mode", "none")
        if mapping not in ("none", None, "name", "id"):
            raise DeltaProtocolError(
                f"unsupported columnMapping mode {mapping!r} (this reader "
                "implements none/name/id)"
            )
        if reader > 3:
            # a future protocol revision this code does not know
            raise DeltaProtocolError(f"unsupported minReaderVersion {reader}")
        if reader == 3:
            feats = set(p.get("readerFeatures") or [])
            unsupported = feats - _SUPPORTED_READER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"unsupported Delta reader features: {sorted(unsupported)}"
                )

    def check_writable(self, operation: str) -> None:
        """Refuse commits the Delta spec says this writer must not make
        (PROTOCOL.md "Writer Requirements") — without this, writing to an
        external table with unimplemented writer features would commit
        spec-violating changes other engines depend on.

        ``operation`` is one of append/upsert/replace/compact/vacuum
        (plus ``metadata`` for schema-migration commits).  Enforced:

        * ``minWriterVersion`` gates by the duties each version implies:
          3 (checkConstraints) is accepted because constraints ARE
          enforced per-row (see :meth:`enforced_predicates`); 4
          (changeDataFeed + generatedColumns) and 5 (+ columnMapping)
          are accepted when the duties are dischargeable — CDF writes
          ARE implemented, generated columns are refused only when the
          schema actually declares a ``delta.generationExpression``
          (this writer cannot compute them), and column mapping gates
          per-operation below; 6 (identityColumns) is refused outright;
          7 is accepted iff ``writerFeatures`` is a subset of
          :data:`_SUPPORTED_WRITER_FEATURES` (with the same
          generated-columns schema check).
        * column invariants (``delta.invariants`` in the schema) and
          CHECK constraints (``delta.constraints.*``) — required even at
          writer version 2 — are ENFORCED: every incoming row is
          validated during the staging write and a violation aborts the
          job before any commit (the write paths apply
          :meth:`enforced_predicates` in their cast preamble).
        * ``delta.appendOnly=true`` forbids upsert/replace (the
          remove-producing, data-changing ops).  compact (dataChange
          false rewrite) and vacuum (physical cleanup of unreferenced
          files) do not modify table content and stay allowed, matching
          delta-spark's behavior on append-only tables.
        * ``delta.enableChangeDataFeed=true`` is SUPPORTED: upsert and
          replace stage ``_change_data/`` files and commit ``cdc``
          actions (spec "Change Data Files"); plain appends need no cdc
          actions (CDF readers derive change rows from dataChange=true
          add actions).
        """
        if self.metadata is None:
            return  # brand-new table: we author protocol + metadata
        p = self.protocol
        writer = int(p.get("minWriterVersion", 2))
        if writer == 7:
            feats = set(p.get("writerFeatures") or [])
            unsupported = feats - _SUPPORTED_WRITER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"unsupported Delta writer features: {sorted(unsupported)}"
                )
            if "generatedColumns" in feats:
                self._refuse_generated_columns(operation)
        elif writer in (4, 5):
            # duties implied by 4 (CDF + generated columns) and 5
            # (+ column mapping) are individually dischargeable: CDF
            # writes are implemented (cdc staging on upsert/replace;
            # appends need no cdc actions), generated columns refuse
            # only when actually declared, mapping gates per-operation
            # below
            self._refuse_generated_columns(operation)
        elif writer > 3:
            raise DeltaProtocolError(
                f"unsupported minWriterVersion {writer}: this writer "
                "implements writer protocol 3-5 (and feature tables at 7 "
                f"with {sorted(_SUPPORTED_WRITER_FEATURES)}); version 6 "
                "implies identity-column maintenance this engine does "
                "not provide"
            )
        conf = (self.metadata or {}).get("configuration") or {}
        # column-mapped tables (r10): the whole write surface is
        # supported — append/upsert/replace/compact stage through the
        # shared physical-rename path (_stage_physical: physical
        # parquet names + field ids, physical-keyed stats and
        # partitionValues), ADD COLUMNS assigns fresh column ids +
        # physicalNames past maxColumnId (_migrate_schema_if_needed),
        # CREATE authors the mapping, and vacuum never touches schema
        # — so no mode-specific refusal remains here

        def _on(key: str) -> bool:
            return str(conf.get(key, "false")).strip().lower() == "true"


        if operation in ("upsert", "replace") and _on("delta.appendOnly"):
            raise DeltaProtocolError(
                f"delta.appendOnly=true forbids {operation}: only "
                "appends are allowed on this table"
            )

    def _refuse_generated_columns(self, operation: str) -> None:
        """Writer versions 4+ (and the ``generatedColumns`` feature)
        oblige the writer to COMPUTE declared generation expressions;
        this writer cannot, so a schema that actually declares one is
        refused — a table merely at that protocol version with no
        generated columns carries no such duty (delta-rs takes the
        same position)."""
        raw = (self.metadata or {}).get("schemaString")
        if not raw:
            return
        gen: list[str] = []

        def walk(fields: list, prefix: str) -> None:
            for f in fields:
                md = f.get("metadata") or {}
                name = prefix + str(f.get("name"))
                if "delta.generationExpression" in md:
                    gen.append(name)
                t = f.get("type")
                if isinstance(t, dict) and t.get("type") == "struct":
                    walk(t.get("fields") or [], name + ".")

        walk(json.loads(raw).get("fields") or [], "")
        if gen:
            raise DeltaProtocolError(
                f"cannot {operation}: table declares generated columns "
                f"{gen} (delta.generationExpression) — this writer does "
                "not compute generation expressions"
            )

    def cdf_enabled(self) -> bool:
        conf = (self.metadata or {}).get("configuration") or {}
        return str(conf.get("delta.enableChangeDataFeed", "false")).strip().lower() == "true"

    def enforced_predicates(self) -> list[tuple[str, str]]:
        """``(name, sql_predicate)`` for every CHECK constraint
        (``delta.constraints.<name>`` in the table configuration) and
        column invariant (``delta.invariants`` in a field's metadata,
        the ``{"expression": {"expression": "<sql>"}}`` JSON of the
        spec).  Writer requirement at protocol v2/v3: every committed
        row must satisfy these — the write paths chain them into the
        cast preamble as per-row assertions, so a violation aborts the
        staging write before any commit exists."""
        out: list[tuple[str, str]] = []
        if self.metadata is None:
            return out
        conf = self.metadata.get("configuration") or {}
        for key in sorted(conf):
            if key.startswith("delta.constraints.") and str(conf[key]).strip():
                out.append((key[len("delta.constraints."):], str(conf[key])))
        schema_str = self.metadata.get("schemaString") or ""
        if "delta.invariants" in schema_str:
            # Walk the FULL schema tree: an invariant on a nested struct
            # field is still a writer obligation (its expression carries
            # the qualified path, so F.expr enforces it unchanged).
            # Invariants under array/map elements cannot be expressed as
            # a row predicate — refuse instead of silently skipping.
            def walk(fields, prefix):
                for field in fields:
                    name = f"{prefix}{field.get('name')}"
                    inv = (field.get("metadata") or {}).get("delta.invariants")
                    if inv:
                        try:
                            expr = json.loads(inv)["expression"]["expression"]
                        except (ValueError, KeyError, TypeError):
                            raise DeltaProtocolError(
                                f"unparseable delta.invariants on column "
                                f"{name!r}: {inv!r}"
                            ) from None
                        out.append((f"invariant:{name}", str(expr)))
                    ftype = field.get("type")
                    if isinstance(ftype, dict):
                        if ftype.get("type") == "struct":
                            walk(ftype.get("fields", []), f"{name}.")
                        elif "delta.invariants" in json.dumps(ftype):
                            raise DeltaProtocolError(
                                f"column {name!r} carries delta.invariants "
                                "inside an array/map element — not "
                                "expressible as a row predicate; this "
                                "writer must not commit"
                            )

            walk(json.loads(schema_str).get("fields", []), "")
        return out


# ---------------------------------------------------------------------------
# table
# ---------------------------------------------------------------------------


class DeltaProtocolTable:
    """A Delta-protocol table rooted at a local(ly mounted) path."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.root = to_local_path(location)
        self.log_dir = self.root / LOG_DIR
        # remembered from create_if_absent when the destination declares
        # no schema: the first append creates the table with these
        self._pending_create: Optional[tuple[list[str], dict, dict]] = None

    # ----- log primitives ----------------------------------------------

    def exists(self) -> bool:
        return self.log_dir.is_dir() and (
            any(self.log_dir.glob("*.json"))
            or any(self.log_dir.glob("*.checkpoint.parquet"))
        )

    def _commit_versions(self) -> list[int]:
        out = []
        if not self.log_dir.is_dir():
            return out
        for p in self.log_dir.iterdir():
            name = p.name
            if name.endswith(".json") and len(name) == 25 and name[:20].isdigit():
                out.append(int(name[:20]))
        return sorted(out)

    def _checkpoint_versions(self) -> list[int]:
        out = []
        if not self.log_dir.is_dir():
            return out
        for p in self.log_dir.iterdir():
            name = p.name
            if name.endswith(".checkpoint.parquet") and name[:20].isdigit():
                out.append(int(name[:20]))
        return sorted(out)

    def latest_version(self) -> int:
        commits = self._commit_versions()
        checkpoints = self._checkpoint_versions()
        if not commits and not checkpoints:
            raise DeltaProtocolError(f"no Delta table at {self.root}")
        return max(commits + checkpoints)

    def _commit_info_of(self, version: int) -> Optional[dict]:
        """The commitInfo action of ``version`` (one file read), or
        None when the commit file or action is absent."""
        path = self.log_dir / f"{version:020d}.json"
        try:
            for line in path.read_text().splitlines():
                if not line.strip():
                    continue
                action = json.loads(line)
                info = action.get("commitInfo")
                if info is not None:
                    return info
        except FileNotFoundError:
            pass
        return None

    def _commit_timestamp(self, version: int, info: Optional[dict] = None) -> float:
        """Commit time in epoch seconds: commitInfo.timestamp when
        present, else the commit file's mtime."""
        if info is None:
            info = self._commit_info_of(version)
        if info and "timestamp" in info:
            return float(info["timestamp"]) / 1000.0
        try:
            return (self.log_dir / f"{version:020d}.json").stat().st_mtime
        except FileNotFoundError:
            return float("inf")

    def _read_checkpoint(self, version: int) -> list[dict]:
        table = pq.read_table(self.log_dir / f"{version:020d}.checkpoint.parquet")
        actions: list[dict] = []
        for row in table.to_pylist():
            for key in ("protocol", "metaData", "add", "remove", "txn"):
                val = row.get(key)
                if val is not None:
                    actions.append({key: _strip_nones(_mapify(key, val))})
        return actions

    def _snapshot(
        self, version: Optional[int] = None, timestamp: Optional[str] = None
    ) -> _Snapshot:
        latest = self.latest_version()
        if version is None and timestamp is not None:
            from .table import parse_travel_timestamp

            ts = parse_travel_timestamp(timestamp)
            candidates = [
                v for v in self._commit_versions() if self._commit_timestamp(v) <= ts
            ]
            if not candidates:
                raise DeltaProtocolError(
                    f"no version at or before {timestamp} at {self.root}"
                )
            version = candidates[-1]
        if version is None:
            version = latest
        if version > latest:
            raise DeltaProtocolError(
                f"version {version} not found at {self.root} (latest is {latest})"
            )
        snap = _Snapshot()
        start = 0
        checkpoints = self._checkpoint_versions()
        usable_cp = [v for v in checkpoints if v <= version]
        if usable_cp:
            cp = usable_cp[-1]
            for action in self._read_checkpoint(cp):
                snap.apply(action)
            snap.version = cp
            start = cp + 1
        commits = [v for v in self._commit_versions() if start <= v <= version]
        expected = list(range(start, version + 1))
        if commits != expected and not usable_cp and checkpoints:
            raise DeltaProtocolError(
                f"version {version} predates version {checkpoints[0]}, the "
                f"oldest the log at {self.root} can rebuild: history before "
                "it was truncated at that version's checkpoint"
            )
        if commits != expected:
            missing = sorted(set(expected) - set(commits))
            raise DeltaProtocolError(
                f"log is missing commit versions {missing[:5]} at {self.root}"
            )
        for v in commits:
            path = self.log_dir / f"{v:020d}.json"
            for line in path.read_text().splitlines():
                if line.strip():
                    snap.apply(json.loads(line))
            snap.version = v
        snap.check_readable()
        return snap

    def _write_commit(self, version: int, actions: list[dict]) -> None:
        """Atomic put-if-absent commit: the payload is fully written and
        fsynced to a hidden temp file, then hard-linked to the commit
        name — link(2) fails with EEXIST if a concurrent writer claimed
        the version (surfaced as FileExistsError for the caller to
        retry/fail), and readers can never observe a partial commit
        (an in-place O_EXCL write would expose empty/truncated JSON to
        a concurrent ``_snapshot()``)."""
        self.log_dir.mkdir(parents=True, exist_ok=True)
        payload = "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
        path = self.log_dir / f"{version:020d}.json"
        tmp = self.log_dir / f".{uuid.uuid4().hex}.json.tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload.encode("utf-8"))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        finally:
            tmp.unlink(missing_ok=True)
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            try:
                self._write_checkpoint(self._snapshot(version))
            except Exception:
                # a failed checkpoint never corrupts the log — readers
                # replay JSON commits without it
                pass

    def _commit_info(self, operation: str, params: Optional[dict] = None) -> dict:
        return {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": operation,
                "operationParameters": {
                    k: v if isinstance(v, str) else json.dumps(v)
                    for k, v in (params or {}).items()
                },
                "engineInfo": "aqueducts-spark",
            }
        }

    # ----- checkpoints --------------------------------------------------

    def _write_checkpoint(self, snap: _Snapshot) -> None:
        """Write ``snap`` as the classic checkpoint of its version."""
        rows: list[dict] = []
        rows.append({"protocol": snap.protocol})
        if snap.metadata is not None:
            rows.append({"metaData": snap.metadata})
        for add in snap.files.values():
            rows.append({"add": add})
        # the spec requires checkpoints to carry remove tombstones (other
        # engines' VACUUM depends on them) and setTransaction watermarks
        # (idempotent stream writers depend on them)
        for remove in snap.tombstones.values():
            rows.append({"remove": remove})
        for txn in snap.txns.values():
            rows.append({"txn": txn})
        schema = _checkpoint_schema()
        normalized = []
        for r in rows:
            base: dict[str, Any] = {k: None for k in ("protocol", "metaData", "add", "remove", "txn")}
            for k, v in r.items():
                base[k] = _conform(v, schema.field(k).type)
            normalized.append(base)
        table = pa.Table.from_pylist(normalized, schema=schema)
        pq.write_table(table, self.log_dir / f"{snap.version:020d}.checkpoint.parquet")
        (self.log_dir / LAST_CHECKPOINT).write_text(
            json.dumps({"version": snap.version, "size": len(normalized)})
        )

    # ----- lifecycle ----------------------------------------------------

    def create_if_absent(
        self,
        fields: list[Field],
        partition_columns: list[str],
        table_properties: dict,
        metadata: dict,
    ) -> None:
        if self.exists():
            if fields:
                self._migrate_schema_if_needed(fields)
            return
        if not fields:
            # schema arrives with the first append
            self._pending_create = (partition_columns, table_properties, metadata)
            return
        struct = fields_to_struct(fields)
        self._create(struct, partition_columns, table_properties, metadata)

    def _create(
        self,
        struct: T.StructType,
        partition_columns: list[str],
        table_properties: dict,
        metadata: dict,
    ) -> None:
        self.root.mkdir(parents=True, exist_ok=True)
        self._write_commit(
            0,
            self._create_actions(struct, partition_columns, table_properties, metadata),
        )
        self._pending_create = None

    def _create_actions(
        self,
        struct: T.StructType,
        partition_columns: list[str],
        table_properties: dict,
        metadata: dict,
    ) -> list[dict]:
        """commitInfo, protocol and metaData of a table's version 0."""
        config = {str(k): str(v) for k, v in (table_properties or {}).items()}
        # authoring a column-mapped table (r10): a configuration that
        # requests mapping obliges the CREATE to assign each field a
        # columnMapping.id and physicalName (PROTOCOL.md "Writer
        # Requirements for Column Mapping") — writing the config with a
        # bare schemaString would be a spec violation every compliant
        # reader (including ours) refuses
        mode = str(config.get("delta.columnMapping.mode", "none")).strip()
        if mode not in ("none", ""):
            if mode not in ("name", "id"):
                raise DeltaProtocolError(
                    f"cannot create table: unsupported "
                    f"delta.columnMapping.mode {mode!r} (name/id)"
                )
            struct, max_id = _assign_column_mapping(struct)
            config.setdefault("delta.columnMapping.maxColumnId", str(max_id))
        meta_action = {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(struct.jsonValue(), separators=(",", ":")),
            "partitionColumns": list(partition_columns or []),
            "configuration": config,
            "createdTime": int(time.time() * 1000),
        }
        if metadata:
            desc = metadata.get("description")
            if desc:
                meta_action["description"] = str(desc)
            name = metadata.get("name")
            if name:
                meta_action["name"] = str(name)
        return [
            self._commit_info(
                "CREATE TABLE", {"partitionBy": list(partition_columns or [])}
            ),
            {"protocol": _protocol_for(struct, config)},
            {"metaData": meta_action},
        ]

    def _migrate_schema_if_needed(self, fields: list[Field]) -> None:
        snap = self._snapshot()
        current = snap.schema()
        by_name = {f.name: f for f in current.fields}
        declared = fields_to_struct(fields)
        for f in declared.fields:
            cur = by_name.get(f.name)
            if cur is not None and cur.dataType != f.dataType:
                raise DeltaProtocolError(
                    f"schema migration cannot change column '{f.name}' from "
                    f"{cur.dataType.simpleString()} to {f.dataType.simpleString()} "
                    "(only additions supported)"
                )
        added = [f for f in declared.fields if f.name not in by_name]
        if not added:
            return
        # a schema migration is a metaData commit: the writer-protocol
        # gate applies here too — without it an ADD COLUMNS commit
        # would land on tables (constraints, identity columns, ...)
        # this engine must not write, before the data write gets
        # refused.  Checked only when a migration would actually
        # commit, so a same-schema declared append (the common YAML
        # path) doesn't bounce on a gate for a commit that was never
        # going to happen.
        snap.check_writable("metadata")
        meta = dict(snap.metadata or {})
        mode = snap.column_mapping_mode()
        if mode not in ("none", "None"):
            # mapped tables: ADDED columns get fresh ids past the
            # table's maxColumnId and col-<uuid> physicalNames (the
            # spec's writer requirement for schema evolution); old
            # files null-fill the new physical columns — standard
            # evolution semantics the read probe already tolerates
            conf = dict(meta.get("configuration") or {})
            max_id = int(conf.get("delta.columnMapping.maxColumnId") or 0)
            stamped, new_max = _assign_column_mapping(
                T.StructType(added), start=max_id
            )
            added = list(stamped.fields)
            conf["delta.columnMapping.maxColumnId"] = str(new_max)
            meta["configuration"] = conf
        merged = T.StructType(list(current.fields) + added)
        meta["schemaString"] = json.dumps(merged.jsonValue(), separators=(",", ":"))
        actions = [
            self._commit_info("ADD COLUMNS", {"columns": [f.name for f in added]}),
            {"metaData": meta},
        ]
        self._write_commit(snap.version + 1, actions)

    # ----- reads --------------------------------------------------------

    def read(
        self, version: Optional[int] = None, timestamp: Optional[str] = None
    ) -> DataFrame:
        """Table snapshot as a DataFrame (optionally time-travelled).

        Session note: reading a column-mapped table whose files match
        by parquet FIELD ID (not physical name) enables the
        session-level ``spark.sql.parquet.fieldId.read.enabled``
        SQLConf for the rest of the session — Spark has no per-read
        switch, and the returned frame is lazy so the flag cannot be
        restored before the scan runs.  The flag only changes behavior
        for read schemas that carry ``parquet.field.id`` metadata;
        plain reads (including every read this engine plans itself,
        which never attaches that metadata outside mapped tables) are
        unaffected."""
        snap = self._snapshot(version, timestamp)
        return self._read_snapshot(snap)

    def _resolve_mapped_struct(
        self, snap: _Snapshot, probe_rel
    ) -> T.StructType:
        """Physical read schema for a mapped table, resolved against the
        table's ACTUAL parquet layout by probing one or more file
        footers (``probe_rel``: a path or a small list of paths;
        driver-side, one footer read each):

        * parquet columns carry the physical names (how delta-spark
          lays out BOTH modes) -> plain name matching;
        * otherwise, if the footer carries parquet field ids (a
          spec-compliant ``mode=id`` writer that names columns freely)
          -> field-id matching: the read schema gets ``parquet.field.id``
          metadata and ``spark.sql.parquet.fieldId.read.enabled`` is
          turned on (a no-op for schemas without id metadata, so other
          reads are unaffected; a mixed table whose other files LACK
          ids then fails the scan loudly rather than null-filling);
        * neither -> loud refusal.  Before r9.1 an id-named table was
          name-matched and every data column silently read as NULL.

        Name matching is chosen on ANY physical-name overlap, not a
        full subset: a schema-evolved table's OLD files legitimately
        lack later-added columns (they null-fill — standard evolution
        semantics), and physical names are rename-stable by design so
        any genuine name-mode file shares them.  Mixed layouts: callers
        pass up to a handful of probe files (snapshot reads probe the
        lexicographic FIRST and LAST data file — per-file resolution
        would cost a driver-side footer read per file, which a
        100k-file table cannot pay); files resolving to DIFFERENT
        matching classes are refused loudly instead of silently
        null-filling whichever class the probe missed.

        Accepting an id-matching resolution enables the session-level
        ``spark.sql.parquet.fieldId.read.enabled`` SQLConf (no per-read
        parquet option exists); the flag persists because the returned
        frame is LAZY — restoring it before the scan executes would
        break the read.  It is a no-op for read schemas without
        ``parquet.field.id`` metadata; see :meth:`read`'s public note.
        """
        mode = snap.column_mapping_mode()
        phys = snap.physical_schema()
        part_phys = set(snap.physical_partition_columns())
        data_names = {f.name for f in phys.fields} - part_phys
        probes = (
            [probe_rel] if isinstance(probe_rel, str) else list(probe_rel)
        )
        classes: dict[str, str] = {}
        for rel in probes:
            try:
                footer = pq.read_schema(str(self.root / rel))
            except (FileNotFoundError, OSError) as exc:
                raise DeltaProtocolError(
                    f"column-mapping probe: action references missing "
                    f"file {rel!r} (vacuumed?): {exc}"
                ) from None
            file_names = set(footer.names)
            if data_names & file_names:
                classes[rel] = "name"
                continue
            has_ids = any(
                (f.metadata or {}).get(b"PARQUET:field_id") is not None
                for f in footer
            )
            if has_ids:
                classes[rel] = "id"
                continue
            raise DeltaProtocolError(
                f"columnMapping mode {mode!r}: the parquet file "
                f"{rel!r} names columns {sorted(file_names)[:6]} — "
                f"neither the physical names {sorted(data_names)[:6]} "
                "nor parquet field ids are present, so no "
                "column-mapping resolution is possible (reading on "
                "would silently null-fill every data column)"
            )
        if len(set(classes.values())) > 1:
            raise DeltaProtocolError(
                f"columnMapping mode {mode!r}: the table mixes "
                f"resolution layouts across files ({classes}) — "
                "name-matching would null-fill the id-only files and "
                "id-matching would fail on the id-less ones; this "
                "reader resolves one class per scan"
            )
        if next(iter(classes.values())) == "name":
            return phys
        # session-level SQLConf (no per-read parquet option exists for
        # it): harmless for schemas WITHOUT parquet.field.id metadata —
        # only id-stamped read schemas change behavior
        self.spark.conf.set(
            "spark.sql.parquet.fieldId.read.enabled", "true"
        )
        return _physical_struct(snap.schema(), mode, field_ids=True)

    def _cdf_files(self, v: int) -> list[tuple[Optional[str], list[dict]]]:
        """The files a CDF read of commit ``v`` replays, as
        ``(change_type, file actions)`` groups: its ``cdc`` actions
        EXCLUSIVELY when it has any (PROTOCOL.md "Change Data Files";
        change type ``None``: the files carry ``_change_type``), else
        its dataChange add (``insert``) and remove (``delete``) actions.
        Empty groups are left out."""
        path = self.log_dir / f"{v:020d}.json"
        if not path.is_file():
            raise DeltaProtocolError(
                f"change_feed: commit {v} not in the log (checkpoint-"
                "truncated) — CDF replay needs the JSON commits"
            )
        actions = [json.loads(l) for l in path.read_text().splitlines() if l.strip()]
        cdcs = [a["cdc"] for a in actions if "cdc" in a]
        if cdcs:
            return [(None, cdcs)]
        # a DV-carrying add/remove changes ROWS WITHIN a file; deriving
        # per-row changes from it needs DV diffing this CDF reader does
        # not implement — refuse rather than emit wrong change rows
        # (plain snapshot reads of DV tables ARE supported, see
        # _apply_deletion_vectors)
        if any((a.get("add") or a.get("remove") or {}).get("deletionVector") for a in actions):
            raise DeltaProtocolError(
                f"change_feed: commit {v} carries deletion vectors; CDF "
                "derivation over DV commits is not supported (read the "
                "snapshot instead)"
            )
        groups = [
            (change, [a[kind] for a in actions if kind in a and a[kind].get("dataChange", True)])
            for kind, change in (("add", "insert"), ("remove", "delete"))
        ]
        return [(change, files) for change, files in groups if files]

    def _read_snapshot(self, snap: _Snapshot, with_file: bool = False) -> DataFrame:
        """The rows of ``snap``'s live files under its logical schema.
        ``with_file`` adds the scan's ``_metadata.file_path`` as column
        ``_FILE_COL`` to a snapshot with files (one spelling of the
        file's URI; map it back to a live path with :meth:`_candidates`)."""
        logical = snap.schema()
        mapped = snap.column_mapping_mode() not in ("none", "None")
        # column mapping (r9): the whole scan runs in PHYSICAL terms —
        # parquet column names, partitionValues keys and hive directory
        # names are all physical on mapped tables — and the final
        # projection renames to logical
        struct = (
            self._resolve_mapped_struct(
                # two footers: lexicographic first AND last file — a
                # table mixing physically-named and id-only layouts is
                # refused on disagreement instead of silently
                # null-filling the unprobed class (ADVICE r9)
                snap, sorted({min(snap.files), max(snap.files)})
            )
            if mapped and snap.files
            else (snap.physical_schema() if mapped else logical)
        )
        part_cols = (
            snap.physical_partition_columns()
            if mapped
            else snap.partition_columns()
        )
        if not snap.files:
            return self.spark.createDataFrame([], logical)

        def done(df: DataFrame) -> DataFrame:
            df = self._apply_deletion_vectors(df, dv_files)
            return _to_logical(df, struct, logical) if mapped else df
        data_struct = T.StructType(
            [f for f in struct.fields if f.name not in part_cols]
        )
        # deletion vectors (r8): files whose add action carries a DV
        # need position-level filtering — select the parquet reader's
        # hidden _metadata (file_path, row_index) alongside the data
        # and anti-join the decoded deleted positions afterwards
        dv_files = {
            p: a["deletionVector"]
            for p, a in snap.files.items()
            if a.get("deletionVector")
            and int(a["deletionVector"].get("cardinality") or 0) > 0
        }
        meta = (
            [
                F.col("_metadata.file_path").alias("__dv_file"),
                F.col("_metadata.row_index").alias("__dv_row"),
            ]
            if dv_files
            else []
        )
        if with_file:
            meta.append(F.col("_metadata.file_path").alias(_FILE_COL))
        paths = sorted(snap.files)
        if not part_cols:
            df = self.spark.read.schema(data_struct).parquet(
                *[str(self.root / p) for p in paths]
            )
            df = df.select(*[F.col(f.name) for f in struct.fields], *meta)
            return done(df)
        if self._hive_consistent(snap, part_cols):
            # every file sits under its own col=value/... directory chain
            # (how this writer and delta-rs lay files out): one scan with
            # partition discovery, explicit schema = explicit types
            df = (
                self.spark.read.schema(struct)
                .option("basePath", str(self.root))
                .parquet(*[str(self.root / p) for p in paths])
            )
            df = df.select(*[F.col(f.name) for f in struct.fields], *meta)
            return done(df)
        # authoritative fallback: the shared action-file reader groups
        # by partitionValues and reattaches partition columns as typed
        # literals (same code path as change_feed — one implementation
        # of partition reconstruction to keep correct)
        out = self._read_action_files(
            list(snap.files.values()),
            struct,
            part_cols,
            meta=meta,
        )
        assert out is not None
        return done(out)

    def _candidates(self, rel: str) -> list[str]:
        """Every spelling the scan's ``_metadata.file_path`` may give the
        live file ``rel`` (a decoded path relative to the root).

        ``_metadata.file_path`` is a URI whose exact spelling Spark
        controls (scheme slashes, percent-encoded specials like spaces
        in partition values, NO symlink resolution).  Guessing one
        normalization and string-mangling the scan side is how rows get
        silently matched to no file — instead the caller compares the
        scan's spelling VERBATIM against all of these: the plain
        absolute path via ``os.path.abspath`` (which — matching
        Hadoop's qualification — does NOT resolve symlinks) plus the
        RFC-3986 ``file:`` URI in its one- and three-slash forms, each
        raw and Java-URI-quoted."""
        plain = os.path.abspath(str(self.root / rel))
        quoted = _java_uri_quote(plain)
        return sorted(
            {plain}
            | {pre + q for pre in ("file:", "file://") for q in (plain, quoted)}
        )

    def _apply_deletion_vectors(
        self, df: DataFrame, dv_files: dict[str, dict]
    ) -> DataFrame:
        """Filter out rows whose (file, row_index) appears in a deletion
        vector.  ``df`` must carry ``__dv_file`` (the scan's
        ``_metadata.file_path``) and ``__dv_row`` columns when
        ``dv_files`` is non-empty; both are dropped on return.

        The decode runs INSIDE Spark (Arrow-batched ``mapInPandas`` over
        the per-file descriptors), so the only driver-side data is the
        descriptor list itself (one row per file carrying a DV); the
        decoded relation's volume is the number of deleted rows, and the
        anti-join broadcasts it when small / shuffles when huge — never
        the corpus more than once.
        """
        if not dv_files:
            return df
        root = str(self.root)
        # JOIN-KEY DISCIPLINE: the anti-join compares the scan's
        # ``file_path`` VERBATIM against every spelling of
        # :meth:`_candidates`, and a one-file one-row probe below fails
        # LOUDLY if the scan's actual spelling is not covered.

        # probe ONE FILE PER SPELLING CLASS (ADVICE r9): a path whose
        # URI form percent-encodes characters (spaces in partition
        # values, ...) exercises a different candidate spelling than a
        # plain-ascii path — validating only min(dv_files) could pass
        # while the unprobed class's spelling silently resurrects
        # deleted rows.  Class = whether Java-URI quoting changes the
        # path; one representative of each present class is probed.
        def _quotes(rel: str) -> bool:
            plain = os.path.abspath(str(self.root / rel))
            return _java_uri_quote(plain) != plain

        probe_rels = {min(dv_files)}
        other = [p for p in sorted(dv_files) if _quotes(p) != _quotes(min(dv_files))]
        if other:
            probe_rels.add(other[0])
        for probe_rel in sorted(probe_rels):
            probed = (
                self.spark.read.parquet(str(self.root / probe_rel))
                .select(F.col("_metadata.file_path"))
                .head(1)
            )
            if probed and probed[0][0] not in self._candidates(probe_rel):
                raise DeltaProtocolError(
                    "deletion-vector apply: the scan reports file_path "
                    f"{probed[0][0]!r} but the descriptor side generated "
                    f"{self._candidates(probe_rel)!r} for the same file — the "
                    "anti-join keys would never match and deleted rows "
                    "would be silently resurrected; this filesystem/URI "
                    "scheme needs a new candidate spelling here"
                )
        desc = self.spark.createDataFrame(
            [
                (json.dumps(self._candidates(p)), json.dumps(dv))
                for p, dv in sorted(dv_files.items())
            ],
            "file_cands string, dv_json string",
        )

        def decode(batches):
            import pandas as pd

            from aqueducts_spark.delta.deletion_vectors import (
                read_dv_descriptor,
            )

            # decode each DV ONCE, then fan the positions out to the
            # few candidate spellings (output volume = deleted rows x
            # number of spellings — still descriptor-bounded)
            for pdf in batches:
                for fcs, dj in zip(pdf["file_cands"], pdf["dv_json"]):
                    idx = read_dv_descriptor(root, json.loads(dj))
                    for fa in json.loads(fcs):
                        yield pd.DataFrame(
                            {"__del_file": [fa] * len(idx), "__del_row": idx}
                        )

        deleted = desc.mapInPandas(
            decode, "__del_file string, __del_row bigint"
        )
        kept = df.join(
            deleted,
            (F.col("__dv_file") == F.col("__del_file"))
            & (F.col("__dv_row") == F.col("__del_row")),
            "left_anti",
        )
        return kept.drop("__dv_file", "__dv_row")

    def _hive_consistent(self, snap: _Snapshot, part_cols: list[str]) -> bool:
        for path, add in snap.files.items():
            pv = add.get("partitionValues") or {}
            segments = path.split("/")[:-1]
            if len(segments) < len(part_cols):
                return False
            for col, seg in zip(part_cols, segments):
                if "=" not in seg:
                    return False
                name, _, raw = seg.partition("=")
                val = unquote(raw)
                expect = pv.get(col)
                if name != col or expect is None or expect == "" or val != expect:
                    return False
        return True

    # ----- writes -------------------------------------------------------

    def _prepare(self, df: DataFrame, snap: _Snapshot) -> DataFrame:
        """Cast/validate input to the snapshot's declared schema
        (reference delta/src/lib.rs:331-362), then chain every CHECK
        constraint / column invariant as a per-row assertion: the
        ``assert_true`` rides in the staging write's projection, so a
        violating row fails the task mid-write — ONE pass, no separate
        validation scan — and the commit never happens (the staging dir
        is cleaned up by ``_stage_files``'s finally)."""
        struct = snap.schema()
        missing = [f.name for f in struct.fields if f.name not in df.columns]
        if missing:
            raise DeltaProtocolError(
                f"input is missing columns declared in destination schema: {missing}"
            )
        out = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in struct.fields]
        )
        for name, predicate in snap.enforced_predicates():
            try:
                pred = F.expr(predicate)
            except Exception as exc:
                raise DeltaProtocolError(
                    f"cannot parse constraint {name!r}: {predicate!r} ({exc})"
                ) from None
            # delta-spark's CheckDeltaInvariant treats a NULL evaluation
            # as a VIOLATION (unlike SQL-standard CHECK, where NULL
            # passes) — match the owning engine's semantics so rows we
            # commit are exactly the rows it would have accepted
            ok = F.coalesce(pred.cast("boolean"), F.lit(False))
            out = out.where(
                F.assert_true(
                    ok,
                    F.lit(f"{_VIOLATION} {name}: row violates ({predicate})"),
                ).isNull()
            )
        return out

    def _ensure_created_from(self, df: DataFrame) -> None:
        if self.exists():
            return
        part_cols, props, meta = self._pending_create or ([], {}, {})
        self._create(df.schema, part_cols, props, meta)

    def _stage_files(
        self,
        df: DataFrame,
        part_cols: list[str],
        subdir: Optional[str] = None,
        with_stats: bool = True,
        data_change: bool = True,
    ) -> list[dict]:
        """Distributed write into a staging dir, then rename data files
        into the table root (cheap same-filesystem moves) and return
        their ``add``-shaped action dicts.

        ``subdir`` prefixes every target path (``_change_data/`` for
        cdc files); ``with_stats=False`` / ``data_change=False`` match
        the ``cdc`` action shape, which carries no stats and never
        counts as table-data change."""
        stage = self.root / f".stage-{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        try:
            with _surface_violations():
                writer.parquet(str(stage))
        except Exception:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        adds: list[dict] = []
        try:
            for fpath in sorted(stage.rglob("*.parquet")):
                if fpath.name.startswith("."):
                    continue
                if pq.ParquetFile(fpath).metadata.num_rows == 0:
                    continue  # empty task outputs never become add actions
                rel = fpath.relative_to(stage)
                if subdir:
                    rel = Path(subdir) / rel
                target = self.root / rel
                target.parent.mkdir(parents=True, exist_ok=True)
                fpath.rename(target)
                adds.append(
                    _add_action(self.root, rel, part_cols, data_change, with_stats)
                )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return adds

    def _to_physical(self, df: DataFrame, snap: _Snapshot) -> DataFrame:
        """Rename a logically-named, schema-cast batch to the table's
        PHYSICAL layout for staging (column mapping, PROTOCOL.md
        "Writer Requirements for Column Mapping"): parquet columns get
        the ``delta.columnMapping.physicalName`` at every nesting level
        (the per-field cast renames nested fields; the alias renames
        the column), and each field's ``delta.columnMapping.id`` rides
        as ``parquet.field.id`` column metadata so Spark's parquet
        writer stamps field ids into the files — id-mode readers match
        on those.  Downstream, stats keys (read back from the staged
        footers) and partitionValues (derived from the physically-named
        hive dirs) come out physical with no further work.  Reference:
        the pinned delta-rs writes mapped tables the same way
        (aqueducts/delta/src/lib.rs:177-199 via delta-rs rev 1f0b4d0)."""
        mode = snap.column_mapping_mode()
        if mode in ("none", "None"):
            return df
        logical = snap.schema()
        try:
            phys = _physical_struct(logical, mode, field_ids=True)
            with_ids = True
        except DeltaProtocolError:
            # ids are assigned in both modes per spec, but a name-mode
            # table missing them is still correctly readable by name —
            # don't refuse a write the layout supports
            phys = _physical_struct(logical, mode)
            with_ids = False
        cols = []
        for lf, pf in zip(logical.fields, phys.fields):
            c = F.col(lf.name).cast(pf.dataType)
            if with_ids and pf.metadata:
                cols.append(c.alias(pf.name, metadata=dict(pf.metadata)))
            else:
                cols.append(c.alias(pf.name))
        # extra columns beyond the table schema (cdc `_change_type`)
        # pass through by name — _to_logical's mirror rule
        logical_names = {f.name for f in logical.fields}
        extras = [c for c in df.columns if c not in logical_names]
        return df.select(*cols, *[F.col(c) for c in extras])

    def _stage_physical(self, df: DataFrame, snap: _Snapshot, **kw) -> list[dict]:
        """Stage a LOGICALLY-named batch in the table's physical layout:
        rename via :meth:`_to_physical`, partition by the physical
        partition columns, and (on mapped tables) pin the default-true
        ``fieldId.write`` flag so a session that disabled it can't
        stage id-less files.  Identity staging for unmapped tables."""
        mapped = snap.column_mapping_mode() not in ("none", "None")
        if not mapped:
            return self._stage_files(df, snap.partition_columns(), **kw)
        conf = self.spark.conf
        key = "spark.sql.parquet.fieldId.write.enabled"
        prev = conf.get(key)
        conf.set(key, "true")
        try:
            return self._stage_files(
                self._to_physical(df, snap),
                snap.physical_partition_columns(),
                **kw,
            )
        finally:
            conf.set(key, prev)

    def append(self, df: DataFrame) -> int:
        self._ensure_created_from(df)
        snap = self._snapshot()  # ONE log replay per write
        snap.check_writable("append")
        df = self._prepare(df, snap)
        adds = self._stage_physical(df, snap)
        actions = [
            self._commit_info("WRITE", {"mode": "Append"}),
            *({"add": a} for a in adds),
        ]
        version = snap.version + 1
        for _ in range(5):
            try:
                self._write_commit(version, actions)
                return version
            except FileExistsError:
                version = self.latest_version() + 1
        raise DeltaProtocolError(
            f"append lost the commit race 5 times at {self.root}"
        )

    def _rewrite(
        self,
        merged: DataFrame,
        snap: _Snapshot,
        operation: str,
        params: dict,
        change_df: Optional[DataFrame] = None,
        removed: Optional[Iterable[str]] = None,
    ) -> int:
        """Copy-on-write commit: stage ``merged``, remove the live files
        ``removed`` (decoded paths of ``snap``; every live file when
        None) and add the staged ones — one commit.  ``merged`` must
        hold every row of the removed files that stays in the table,
        and nothing of the files that stay live.  On CDF tables the
        caller passes ``change_df`` (table columns + ``_change_type``):
        it is staged under ``_change_data/`` and committed as ``cdc``
        actions per the spec — CDF readers then use those exclusively
        for this commit instead of deriving from add/remove."""
        cdc_actions: list[dict] = []
        if change_df is not None:
            # stage the change feed FIRST: an empty change_df (empty
            # upsert source / replace whose predicate matched nothing
            # with empty input) means the table content is unchanged —
            # committing the remove+add rewrite anyway, with no cdc
            # actions (zero-row files are skipped), would make CDF
            # readers derive a spurious delete+insert of EVERY row.
            # Short-circuit to a no-op instead of rewriting.
            cdc_actions = self._stage_physical(
                change_df,
                snap,
                subdir="_change_data",
                with_stats=False,
                data_change=False,
            )
            if not cdc_actions:
                return snap.version
        try:
            merged = self._checkpoint_enforced(merged)
            if snap.partition_columns():
                # one file per partition value: staged as it comes, every
                # scan task and every batch task writes its own file for
                # each value it holds, so live files multiply commit
                # after commit; AQE splits a skewed value and merges
                # small ones.  Hinted after the checkpoint, so the cached
                # blocks keep the scan's split sizes: hinted before it,
                # AQE coalesced the cache into one block and the
                # delta_incremental benchmark's peak memory rose 14% over
                # the whole-table rewrite (1% after; medians of 7 pairs,
                # 4 cores)
                merged = merged.hint("rebalance", *snap.partition_columns())
            adds = self._stage_physical(merged, snap)
        except Exception:
            # cdc files are already inside _change_data/, which vacuum
            # deliberately never enters — reclaim them on failure here
            # or they leak forever (same rationale as the commit-race
            # cleanup below)
            for c in cdc_actions:
                (self.root / unquote(c["path"])).unlink(missing_ok=True)
            raise
        now = int(time.time() * 1000)
        removes = [
            _remove_action(add, now, True)
            for add in (
                snap.files.values()
                if removed is None
                else [snap.files[p] for p in removed]
            )
        ]
        actions = [
            self._commit_info(operation, params),
            *({"cdc": c} for c in cdc_actions),
            *({"remove": r} for r in removes),
            *({"add": a} for a in adds),
        ]
        version = snap.version + 1
        try:
            self._write_commit(version, actions)
        except FileExistsError:
            # orphaned data files are reclaimed by vacuum, but vacuum
            # deliberately never enters _change_data — reclaim the
            # loser's cdc files here or they leak forever
            for c in cdc_actions:
                (self.root / unquote(c["path"])).unlink(missing_ok=True)
            raise DeltaProtocolError(
                f"concurrent commit raced {operation} at {self.root}; retry the write"
            )
        return version

    def _checkpoint_enforced(self, df: DataFrame) -> DataFrame:
        """localCheckpoint that surfaces constraint assertions embedded
        by :meth:`_prepare` as :class:`DeltaProtocolError` — eager
        checkpointing executes the plan, so a violating row raises HERE
        rather than inside ``_stage_files``."""
        with _surface_violations():
            return df.localCheckpoint(eager=True)

    def _touched_files(
        self, snap: _Snapshot, df: DataFrame, cond: Column
    ) -> list[str]:
        """Decoded paths of ``snap``'s live files that hold a row
        matching a row of ``df`` on ``cond`` (aliases ``old``/``new``).

        One semi-join job over the snapshot read (key columns and the
        file path only).  Each scan spelling of a path is mapped back
        to its live file through :meth:`_candidates`, never guessed: a
        file missed here keeps its matched row live beside the batch's
        replacement — a silent duplicate key — so a spelling no live
        file owns is an error.  ``df`` must be materialized: this job
        and the rewrite must see the same rows."""
        if not snap.files:
            return []
        scan = self._read_snapshot(snap, with_file=True)
        spellings = [
            r[0]
            for r in scan.alias("old")
            .join(df.alias("new"), on=cond, how="left_semi")
            .select(_FILE_COL)
            .distinct()
            .collect()
        ]
        live = {c: rel for rel in snap.files for c in self._candidates(rel)}
        unknown = sorted(set(spellings) - set(live))
        if unknown:
            raise DeltaProtocolError(
                f"upsert: the scan reports file_path {unknown[:3]!r}, which "
                "no live file's spelling matches — its matched rows could "
                "not be removed; this filesystem/URI scheme needs a new "
                "candidate spelling"
            )
        return sorted({live[sp] for sp in spellings})

    def upsert(self, df: DataFrame, keys: list[str]) -> int:
        """MERGE semantics of the reference (delta/src/lib.rs:240-328):
        every target row matching a source key is replaced by ALL of
        that key's source rows (delete-matching + insert-all).

        Copy-on-write by file, as the reference's MERGE: only the live
        files holding a matched row are read, rewritten without those
        rows (together with every source row) and removed; every other
        file stays live untouched.  A source of only new keys commits
        adds and no remove.  The bytes written follow the source and
        the files it touches, not the table."""
        self._ensure_created_from(df)
        snap = self._snapshot()
        snap.check_writable("upsert")
        # the touched-file scan, the rewrite and the change rows all
        # consume df: materialize it once, so the source runs (and is
        # broadcast) once and a non-deterministic source cannot show the
        # scan other keys than the rewrite — a key matched in a file the
        # scan missed would stay live beside its replacement
        df = self._checkpoint_enforced(self._prepare(df, snap))
        cond = merge_key_condition(df.schema, keys, "old", "new")
        touched = self._touched_files(snap, df, cond)
        current = self._read_snapshot(snap.restricted(touched))
        untouched = (
            current.alias("old")
            .join(df.alias("new"), on=cond, how="left_anti")
            .select(*[F.col(f"old.{c}").alias(c) for c in current.columns])
        )
        merged = untouched.unionByName(df.select(*current.columns))
        change_df = None
        if snap.cdf_enabled():
            # our MERGE is delete-matching + insert-all, and the change
            # feed records exactly that: matched target rows as deletes,
            # every source row as an insert
            matched = (
                current.alias("old")
                .join(df.alias("new"), on=cond, how="left_semi")
                .select(*[F.col(f"old.{c}").alias(c) for c in current.columns])
            )
            change_df = matched.withColumn(
                "_change_type", F.lit("delete")
            ).unionByName(
                df.select(*current.columns).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        return self._rewrite(
            merged,
            snap,
            "MERGE",
            {"predicate": keys},
            change_df=change_df,
            removed=touched,
        )

    def replace(self, df: DataFrame, conditions: list[tuple[str, str]]) -> int:
        self._ensure_created_from(df)
        snap = self._snapshot()
        snap.check_writable("replace")
        df = self._prepare(df, snap)
        if snap.cdf_enabled():
            df = self._checkpoint_enforced(df)  # see upsert rationale
        pred = build_replace_predicate(conditions)
        change_df = None
        if snap.files:
            current = self._read_snapshot(snap)
            kept = current.filter(~pred | pred.isNull())
            out = kept.unionByName(df.select(*current.columns))
            if snap.cdf_enabled():
                removed = current.filter(pred)  # only pred=TRUE rows go
                change_df = removed.withColumn(
                    "_change_type", F.lit("delete")
                ).unionByName(
                    df.select(*current.columns).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
        else:
            out = df
            if snap.cdf_enabled():
                change_df = df.withColumn("_change_type", F.lit("insert"))
        return self._rewrite(
            out,
            snap,
            "WRITE",
            {"mode": "Overwrite", "predicate": conditions},
            change_df=change_df,
        )

    # ----- maintenance / introspection ---------------------------------

    def history(self) -> list[dict]:
        """Commit log oldest-first (DESCRIBE HISTORY parity) — one file
        read per commit."""
        out = []
        for v in self._commit_versions():
            info = self._commit_info_of(v)
            entry: dict[str, Any] = {
                "version": v,
                "timestamp": self._commit_timestamp(v, info),
            }
            if info:
                entry["operation"] = info.get("operation")
                entry["operationParameters"] = info.get("operationParameters")
            out.append(entry)
        return out

    def compact(self, target_partitions: Optional[int] = None) -> int:
        """OPTIMIZE-style bin packing: rewrite the snapshot as fresh
        files with ``dataChange: false`` so streaming readers skip it."""
        snap = self._snapshot()
        snap.check_writable("compact")
        current = self._read_snapshot(snap)
        if target_partitions is not None:
            current = current.coalesce(target_partitions)
        current = current.localCheckpoint(eager=True)
        adds = self._stage_physical(current, snap, data_change=False)
        now = int(time.time() * 1000)
        removes = [_remove_action(add, now, False) for add in snap.files.values()]
        actions = [
            self._commit_info("OPTIMIZE", {}),
            *({"remove": r} for r in removes),
            *({"add": a} for a in adds),
        ]
        version = snap.version + 1
        self._write_commit(version, actions)
        return version

    def vacuum(
        self, keep_versions: int = 1, retention_hours: Optional[float] = None
    ) -> list[str]:
        """Delete data files unreferenced by the newest ``keep_versions``
        data snapshots (their count stands in for the retention window).

        ``retention_hours`` switches to real Delta VACUUM semantics:
        delete files NOT referenced by the CURRENT snapshot whose
        tombstone ``deletionTimestamp`` (falling back to file mtime) is
        older than the retention window — recently-removed files stay
        restorable, matching delta-spark's default-168h contract."""
        versions = self._commit_versions()
        if not versions:
            return []
        snap = self._snapshot()  # ONE replay: writable gate + retention keep-set
        snap.check_writable("vacuum")
        keep: set[str] = set()
        if retention_hours is not None:
            if retention_hours < 0:
                raise DeltaProtocolError("vacuum: retention_hours must be >= 0")
            keep.update(snap.files.keys())
            cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
            for path, remove in snap.tombstones.items():
                deleted_at = remove.get("deletionTimestamp")
                if deleted_at is None:
                    f = self.root / path
                    deleted_at = f.stat().st_mtime * 1000.0 if f.exists() else 0
                if float(deleted_at) >= cutoff_ms:
                    keep.add(path)  # inside the retention window
        else:
            if keep_versions < 1:
                raise DeltaProtocolError("vacuum: keep_versions must be >= 1")
            # count data snapshots, newest first: a commit that changes
            # no file (ADD COLUMNS, an upgraded table's VACUUM END) has
            # its predecessor's files and must not crowd one out
            kept: list[set[str]] = []
            for v in reversed(versions):
                files = set(self._snapshot(v).files)
                if not kept or files != kept[-1]:
                    kept.append(files)
                    keep.update(files)
                if len(kept) == keep_versions:
                    break

        def skipped(rel: Path) -> bool:
            # the logs (the legacy one is an upgraded table's rollback)
            # and _change_data, whose cdc files this add-action keep-set
            # does not model (change-feed retention is a separate
            # policy); hidden entries are a concurrent writer's .stage-*
            # dirs or other working files
            return bool(rel.parts) and (
                rel.parts[0] in (LOG_DIR, CDC_DIR, LEGACY_LOG_DIR)
                or any(part.startswith(".") for part in rel.parts)
            )

        removed: list[str] = []
        for fpath in sorted(self.root.rglob("*.parquet")):
            rel = fpath.relative_to(self.root)
            if not skipped(rel) and str(rel) not in keep:
                fpath.unlink()
                fpath.with_name(f".{fpath.name}.crc").unlink(missing_ok=True)
                removed.append(str(rel))

        def debris(p: Path) -> bool:
            # a Spark write's marker, or a checksum sidecar whose file
            # is gone
            return p.is_file() and (
                p.name in ("_SUCCESS", "._SUCCESS.crc")
                or (
                    p.name.startswith(".")
                    and p.name.endswith(".crc")
                    and not p.with_name(p.name[1:-4]).exists()
                )
            )

        # drop directories left holding nothing but debris, deepest first
        for d in sorted(
            (p for p in self.root.rglob("*") if p.is_dir()), reverse=True
        ):
            if skipped(d.relative_to(self.root)):
                continue
            entries = list(d.iterdir())
            if all(map(debris, entries)):
                for p in entries:
                    p.unlink()
                d.rmdir()
        return removed

    def changes(self, v_from: int, v_to: Optional[int] = None) -> DataFrame:
        """CDF-style row diff between versions (insert/delete tagging,
        updates surface as delete+insert) — multiset ``exceptAll``.

        The diff runs over changed files only: a file live in both
        versions with the same add action (path and deletion vector)
        adds the same rows to both sides of the multiset diff, so it
        cancels out and is not read.  That holds while every column of
        ``v_from`` keeps its name, type and metadata in ``v_to`` (an
        additive migration null-fills both sides alike); otherwise
        every file is diffed.  A ``compact()`` rewrite diffs to empty."""
        if v_to is None:
            v_to = self.latest_version()
        snap_from = self._snapshot(v_from)
        snap_to = self._snapshot(v_to)
        to_fields = snap_to.schema().fields
        same: set[str] = set()
        if snap_from.partition_columns() == snap_to.partition_columns() and all(
            f in to_fields for f in snap_from.schema().fields
        ):
            same = {
                p
                for p, add in snap_from.files.items()
                if p in snap_to.files
                and add.get("deletionVector")
                == snap_to.files[p].get("deletionVector")
            }
        before = self._read_snapshot(snap_from.restricted(set(snap_from.files) - same))
        after = self._read_snapshot(snap_to.restricted(set(snap_to.files) - same))
        for c in after.columns:
            if c not in before.columns:
                before = before.withColumn(c, F.lit(None).cast(dict(after.dtypes)[c]))
        for c in before.columns:
            if c not in after.columns:
                after = after.withColumn(c, F.lit(None).cast(dict(before.dtypes)[c]))
        cols = after.columns
        before = before.select(*cols)
        after = after.select(*cols)
        inserts = after.exceptAll(before).withColumn("_change_type", F.lit("insert"))
        deletes = before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
        return (
            inserts.unionByName(deletes)
            .withColumn("_from_version", F.lit(int(v_from)))
            .withColumn("_to_version", F.lit(int(v_to)))
        )

    def _read_action_files(
        self,
        file_actions: list[dict],
        struct: T.StructType,
        part_cols: list[str],
        extra: Optional[list[tuple[str, T.DataType]]] = None,
        meta: Sequence[Column] = (),
    ) -> Optional[DataFrame]:
        """Read the parquet files named by add/remove/cdc actions,
        reattaching partition columns from ``partitionValues`` as typed
        literals; ``extra`` declares file-resident columns beyond the
        table schema (``_change_type`` in cdc files); ``meta`` appends
        columns of the scan's ``_metadata`` (file_path, row_index), as
        :meth:`_read_snapshot` selects them."""
        extra = extra or []
        data_struct = T.StructType(
            [f for f in struct.fields if f.name not in part_cols]
            + [T.StructField(n, t) for n, t in extra]
        )
        by_name = {f.name: f for f in struct.fields}
        out_cols = [f.name for f in struct.fields] + [n for n, _ in extra]
        groups: dict[tuple, list[str]] = {}
        for a in file_actions:
            p = unquote(a["path"])
            pv = a.get("partitionValues") or {}
            groups.setdefault(tuple(pv.get(c) for c in part_cols), []).append(p)
        out: Optional[DataFrame] = None
        for key, paths in sorted(
            groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
        ):
            missing = [p for p in paths if not (self.root / p).is_file()]
            if missing:
                raise DeltaProtocolError(
                    f"action references missing file(s) (vacuumed?): {missing[:3]}"
                )
            part = self.spark.read.schema(data_struct).parquet(
                *[str(self.root / p) for p in paths]
            )
            for col, raw in zip(part_cols, key):
                typ = by_name[col].dataType
                lit = F.lit(None) if raw is None else F.lit(raw)
                part = part.withColumn(col, lit.cast(typ))
            part = part.select(*out_cols, *meta)
            out = part if out is None else out.unionByName(part)
        return out

    def change_feed(self, v_from: int, v_to: Optional[int] = None) -> DataFrame:
        """Spec-faithful Change Data Feed read, per-commit granularity:
        for every commit in ``(v_from, v_to]``, use its ``cdc`` actions
        EXCLUSIVELY when present (PROTOCOL.md "Change Data Files"),
        otherwise derive insert/delete rows from its dataChange
        add/remove actions.  Output: table columns + ``_change_type`` +
        ``_commit_version`` + ``_commit_timestamp`` (delta-spark CDF
        column parity).  Unlike :meth:`changes` (an endpoint multiset
        diff), this surfaces intra-range churn — a row inserted then
        deleted within the range appears twice.  ``v_from`` is
        EXCLUSIVE (commits ``v_from+1 .. v_to``); the YAML source maps
        its inclusive ``changes_from`` by passing ``changes_from - 1``,
        matching native ``readChangeFeed``'s ``startingVersion``."""
        if v_to is None:
            v_to = self.latest_version()
        snap_to = self._snapshot(v_to)
        logical = snap_to.schema()
        mapped = snap_to.column_mapping_mode() not in ("none", "None")
        # mapped tables (r9): cdc/add/remove parquet files are laid out
        # like data files — replay physically, rename in the final
        # projection (_change_type & co pass through).  The name-vs-
        # field-id probe runs against a file FROM THE RANGE ITSELF:
        # probing the v_to snapshot was wrong twice over (an
        # all-rows-deleted table has an empty snapshot, and the CDF
        # range may predate the current layout) and the physical-name
        # fallback silently null-filled id-named tables.
        struct = logical
        if mapped:
            # try the replay's own files in order (files it never
            # reads, like an OPTIMIZE rewrite's, make useless probe
            # targets); a vacuumed probe target falls through to the
            # next candidate instead of failing a range servable from
            # the surviving files (only missing-file errors fall through
            # — a resolution refusal like id-less foreign naming stays
            # loud)
            cands = [
                unquote(f["path"])
                for v in range(v_from + 1, v_to + 1)
                for _, files in self._cdf_files(v)
                for f in files
            ]
            struct = snap_to.physical_schema()
            last_missing: Optional[DeltaProtocolError] = None
            for probe in cands:
                try:
                    struct = self._resolve_mapped_struct(snap_to, probe)
                    last_missing = None
                    break
                except DeltaProtocolError as exc:
                    if "missing file" not in str(exc) and (
                        "vacuumed" not in str(exc)
                    ):
                        raise
                    last_missing = exc
            if last_missing is not None:
                raise last_missing
        part_cols = (
            snap_to.physical_partition_columns()
            if mapped
            else snap_to.partition_columns()
        )
        out: Optional[DataFrame] = None
        for v in range(v_from + 1, v_to + 1):
            part = None
            for change, files in self._cdf_files(v):
                if change is None:
                    piece = self._read_action_files(
                        files, struct, part_cols,
                        extra=[("_change_type", T.StringType())],
                    )
                else:
                    piece = self._read_action_files(
                        files, struct, part_cols
                    ).withColumn("_change_type", F.lit(change))
                part = piece if part is None else part.unionByName(piece)
            if part is None:
                continue
            info = self._commit_info_of(v)
            ts = datetime.fromtimestamp(
                self._commit_timestamp(v, info), tz=timezone.utc
            ).replace(tzinfo=None)
            part = part.withColumn(
                "_commit_version", F.lit(int(v)).cast("bigint")
            ).withColumn(
                # naive-UTC literal matches delta-spark's CDF column
                "_commit_timestamp", F.lit(ts).cast("timestamp")
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            empty = T.StructType(
                list(logical.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                    T.StructField("_commit_timestamp", T.TimestampType()),
                ]
            )
            return self.spark.createDataFrame([], empty)
        return _to_logical(out, struct, logical) if mapped else out



# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _protocol_for(struct: T.StructType, config: Optional[dict] = None) -> dict:
    """Minimum protocol able to describe the table: TIMESTAMP_NTZ
    columns need the ``timestampNtz`` feature, CDF tables must be
    protocol-bound to ``changeDataFeed`` (so a spec-conforming external
    writer cannot legally skip cdc actions on MERGE), and declared
    CHECK constraints must be bound to ``checkConstraints`` — all via a
    feature table (writer 7), since the legacy versions that imply them
    (4 / 3) drag in duties like generatedColumns we do not provide.
    Column mapping alone uses the legacy binding (reader 2 / writer 5,
    how delta-spark marks mapped tables); combined with any feature it
    rides the feature table as ``columnMapping`` in BOTH lists."""
    config = config or {}
    mapped = str(config.get("delta.columnMapping.mode", "none")).strip() not in (
        "none", "",
    )
    writer_features: list[str] = []
    if _uses_ntz(struct):
        writer_features.append("timestampNtz")
    if str(config.get("delta.enableChangeDataFeed", "")).strip().lower() == "true":
        writer_features.append("changeDataFeed")
    if any(k.startswith("delta.constraints.") for k in config):
        writer_features.append("checkConstraints")
    if not writer_features:
        if mapped:
            return {"minReaderVersion": 2, "minWriterVersion": 5}
        return {"minReaderVersion": 1, "minWriterVersion": 2}
    if mapped:
        writer_features.append("columnMapping")
    proto: dict = {"minWriterVersion": 7, "writerFeatures": writer_features}
    reader_features = [
        f for f in ("timestampNtz", "columnMapping") if f in writer_features
    ]
    if reader_features:
        proto["minReaderVersion"] = 3
        proto["readerFeatures"] = reader_features
    else:
        proto["minReaderVersion"] = 1
    return proto


def _assign_column_mapping(
    struct: T.StructType, start: int = 0
) -> tuple[T.StructType, int]:
    """Author column-mapping metadata: every field at every nesting
    level gets a sequential ``delta.columnMapping.id`` (starting past
    ``start`` — the table's current maxColumnId when stamping ADDED
    columns) and a fresh ``col-<uuid>`` physicalName (the delta-spark
    layout).  Returns the stamped struct and the max assigned id (the
    table's new ``delta.columnMapping.maxColumnId``)."""
    counter = start

    def conv_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([conv_field(f) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(conv_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                conv_type(dt.keyType),
                conv_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    def conv_field(f: T.StructField) -> T.StructField:
        nonlocal counter
        counter += 1
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = counter
        md["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
        return T.StructField(f.name, conv_type(f.dataType), f.nullable, md)

    return T.StructType([conv_field(f) for f in struct.fields]), counter


def _uses_ntz(dt: T.DataType) -> bool:
    if isinstance(dt, T.TimestampNTZType):
        return True
    if isinstance(dt, T.StructType):
        return any(_uses_ntz(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _uses_ntz(dt.elementType)
    if isinstance(dt, T.MapType):
        return _uses_ntz(dt.keyType) or _uses_ntz(dt.valueType)
    return False


def _add_action(
    root: Path, rel: Path, part_cols: list[str], data_change: bool, with_stats: bool = True
) -> dict:
    """The ``add`` action of the data file ``root / rel``; its
    partitionValues come from the ``col=value`` segments of ``rel``."""
    stat = (root / rel).stat()
    action = {
        # percent-encode per spec, but keep the hive "col=value" '='
        # literal as every engine does
        "path": quote(str(rel), safe="/="),
        "partitionValues": _partition_values_from_path(rel, part_cols),
        "size": stat.st_size,
        "modificationTime": int(stat.st_mtime * 1000),
        "dataChange": data_change,
    }
    if with_stats:
        action["stats"] = _file_stats(root / rel)
    return action


def _remove_action(add: dict, deleted_at_ms: int, data_change: bool) -> dict:
    """The ``remove`` action that tombstones the file of ``add``."""
    return {
        "path": add["path"],
        "deletionTimestamp": deleted_at_ms,
        "dataChange": data_change,
        "partitionValues": add.get("partitionValues") or {},
        "size": add.get("size"),
    }


def _partition_values_from_path(rel: Path, part_cols: list[str]) -> dict:
    """Decode hive-style ``col=value`` directory segments into the
    Delta ``partitionValues`` string map."""
    pv: dict[str, Optional[str]] = {}
    segments = rel.parts[:-1]
    for col in part_cols:
        pv[col] = None
    for seg in segments:
        if "=" not in seg:
            continue
        name, _, raw = seg.partition("=")
        if name in pv:
            val = unquote(raw)
            pv[name] = None if val == "__HIVE_DEFAULT_PARTITION__" else val
    return pv


_STATS_MINMAX_TYPES = (int, float)


def _file_stats(path: Path) -> str:
    """Per-file stats JSON: numRecords always; nullCount and numeric /
    date min-max from parquet row-group statistics (strings and nested
    types are skipped rather than risking wrong pruning in readers)."""
    meta = pq.ParquetFile(path).metadata
    num_records = meta.num_rows
    null_counts: dict[str, int] = {}
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    ok_minmax: dict[str, bool] = {}
    # a column's nullCount (or min/max) is published ONLY if EVERY row
    # group contributed — a partial sum would understate nulls and let
    # an external reader's data skipping silently drop rows
    ok_null: dict[str, bool] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested — skip
                continue
            stats = col.statistics
            if stats is None or not stats.has_null_count:
                ok_null[name] = False
                ok_minmax[name] = False
                continue
            if ok_null.setdefault(name, True):
                null_counts[name] = null_counts.get(name, 0) + stats.null_count
            if ok_minmax.get(name) is False:
                continue
            if (
                stats.has_min_max
                and isinstance(stats.min, _STATS_MINMAX_TYPES)
                and isinstance(stats.max, _STATS_MINMAX_TYPES)
                and not isinstance(stats.min, bool)
            ):
                mins[name] = stats.min if name not in mins else min(mins[name], stats.min)
                maxs[name] = stats.max if name not in maxs else max(maxs[name], stats.max)
                ok_minmax[name] = True
            else:
                ok_minmax[name] = False
    out: dict[str, Any] = {
        "numRecords": num_records,
        "nullCount": {k: v for k, v in null_counts.items() if ok_null.get(k)},
    }
    min_out = {k: v for k, v in mins.items() if ok_minmax.get(k)}
    max_out = {k: v for k, v in maxs.items() if ok_minmax.get(k)}
    if min_out:
        out["minValues"] = min_out
        out["maxValues"] = max_out
    return json.dumps(out, separators=(",", ":"))


def _checkpoint_schema() -> pa.Schema:
    string_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field("name", pa.string()),
                        pa.field("description", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", string_map),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", string_map),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", string_map),
                        pa.field("size", pa.int64()),
                        pa.field("modificationTime", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                    ]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("deletionTimestamp", pa.int64()),
                        pa.field("dataChange", pa.bool_()),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                        pa.field("lastUpdated", pa.int64()),
                    ]
                ),
            ),
        ]
    )


def _conform(value: dict, typ: pa.DataType) -> dict:
    """Project a dict onto a pyarrow struct type (drop unknown keys,
    null missing ones) so checkpoint rows serialize cleanly."""
    out = {}
    for field in typ:
        v = value.get(field.name)
        if v is not None and pa.types.is_struct(field.type) and isinstance(v, dict):
            v = _conform(v, field.type)
        elif v is not None and pa.types.is_map(field.type) and isinstance(v, dict):
            v = [(str(k), None if vv is None else str(vv)) for k, vv in v.items()]
        out[field.name] = v
    return out


# parquet map columns deserialize as lists of (key, value) tuples; the
# JSON-commit form (and everything downstream — partitionValues lookups,
# configuration .get) expects dicts, so convert the known map fields
_MAP_FIELDS = {
    "metaData": (("configuration",), ("format", "options")),
    "add": (("partitionValues",), ("tags",)),
    "remove": (("partitionValues",),),
}


def _mapify(action_key: str, value: dict) -> dict:
    for path in _MAP_FIELDS.get(action_key, ()):
        node = value
        for part in path[:-1]:
            node = node.get(part) if isinstance(node, dict) else None
            if node is None:
                break
        if isinstance(node, dict):
            leaf = node.get(path[-1])
            if isinstance(leaf, list):
                node[path[-1]] = dict(leaf)
    return value


def _strip_nones(value: Any) -> Any:
    """Checkpoint rows come back with explicit None leaves; drop them so
    replay state matches the JSON-commit form."""
    if isinstance(value, dict):
        return {k: _strip_nones(v) for k, v in value.items() if v is not None}
    if isinstance(value, list):
        return [_strip_nones(v) for v in value]
    return value
