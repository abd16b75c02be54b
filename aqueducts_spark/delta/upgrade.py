"""One-shot conversion of a table in the retired ``_aqueducts_delta_log``
format to a Delta log (``aqueducts-spark delta-upgrade <location>``).

That format logged, per version, the complete list of the table's
``data-<uuid>/`` directories (``active_dirs``).  Each version becomes
one Delta commit with the same number and timestamp: ``create`` the
protocol and metaData, ``migrate`` an ADD COLUMNS metaData, a data
commit the removes of the files of dirs that left and the adds of those
that entered (``dataChange: false`` for ``compact``), ``vacuum`` a
commitInfo alone.  Data files stay where they are.

A legacy vacuum deleted whole dirs.  The Delta log therefore starts at
a checkpoint of the oldest version from which every later version still
has its dirs, and every older version fails to read as missing from the
log.  The log is built in a hidden directory and renamed only when
complete; the legacy log is kept, so deleting ``_delta_log`` undoes the
conversion.
"""

from __future__ import annotations

import json
import shutil
import uuid
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..location import to_local_path
from .protocol import (
    LEGACY_LOG_DIR,
    LOG_DIR,
    DeltaProtocolTable,
    _add_action,
    _remove_action,
    _Snapshot,
)
from .table import DeltaTableError


# legacy data action -> the operation and parameters the writer commits
_OPERATIONS = {
    "append": lambda e: ("WRITE", {"mode": "Append"}),
    "upsert": lambda e: ("MERGE", {"predicate": e.get("merge_keys", [])}),
    "replace": lambda e: ("WRITE", {"mode": "Overwrite", "predicate": e.get("conditions", [])}),
    "compact": lambda e: ("OPTIMIZE", {}),
    "vacuum": lambda e: ("VACUUM END", {"removed": e.get("removed", [])}),
}


def _data_files(root: Path, data_dir: str) -> list[Path]:
    """The non-empty parquet files under ``data_dir``, relative to
    ``root``; hidden and ``_`` entries (``.crc``, ``_SUCCESS``) are not
    data."""
    rels = (p.relative_to(root) for p in sorted((root / data_dir).rglob("*.parquet")))
    return [
        rel
        for rel in rels
        if not any(part.startswith((".", "_")) for part in rel.parts)
        and pq.ParquetFile(root / rel).metadata.num_rows
    ]


def upgrade(spark: SparkSession, location: str) -> tuple[int, int]:
    """Convert the legacy table at ``location``; returns the first and
    the last version of its Delta log."""
    root = to_local_path(location)
    if (root / LOG_DIR).exists():
        raise DeltaTableError(f"{location} already has a {LOG_DIR}; nothing to upgrade")
    entries = [json.loads(p.read_text()) for p in sorted((root / LEGACY_LOG_DIR).glob("*.json"))]
    if not entries:
        raise DeltaTableError(f"no {LEGACY_LOG_DIR} table at {location}")
    start = len(entries)
    while start and all((root / d).is_dir() for d in entries[start - 1]["active_dirs"]):
        start -= 1
    if start == len(entries):
        raise DeltaTableError(f"the latest version at {location} has lost its data")
    create = entries[0]
    part_cols = create.get("partition_columns") or []
    if "delta.columnMapping.mode" in (create.get("table_properties") or {}):
        raise DeltaTableError("cannot upgrade a table that asks for column mapping")
    if create.get("schema"):
        schema = T.StructType.fromJson(create["schema"])
    else:  # schemaless: the legacy reader showed the schema of the data
        dirs = [d for e in entries[start:] for d in e["active_dirs"]]
        if not dirs:
            raise DeltaTableError(f"{location} has neither a schema nor data to take one from")
        schema = spark.read.parquet(str(root / dirs[0])).schema

    table = DeltaProtocolTable(spark, location)
    table.log_dir = root / f".{LOG_DIR}.upgrade-{uuid.uuid4().hex}"
    snap = _Snapshot()
    adds: dict[str, list[dict] | None] = {}  # data dir -> its adds, None if vacuumed
    active: list[str] = []
    try:
        table.log_dir.mkdir()
        for version, entry in enumerate(entries):
            action, dirs, ms = entry["action"], entry["active_dirs"], int(entry["timestamp"] * 1000)
            if action == "create":
                props, metadata = create.get("table_properties"), create.get("metadata")
                actions = table._create_actions(schema, part_cols, props or {}, metadata or {})
            elif action == "migrate":
                struct = T.StructType.fromJson(entry["schema"])
                added = [c for c in struct.fieldNames() if c not in snap.schema().fieldNames()]
                schema_string = json.dumps(struct.jsonValue(), separators=(",", ":"))
                actions = [
                    table._commit_info("ADD COLUMNS", {"columns": added}),
                    {"metaData": dict(snap.metadata, schemaString=schema_string)},
                ]
            elif action in _OPERATIONS:
                actions = [table._commit_info(*_OPERATIONS[action](entry))]
            else:
                raise DeltaTableError(f"unknown legacy action {action!r} at version {version}")
            actions[0]["commitInfo"]["timestamp"] = ms
            data_change = action != "compact"
            for d in active:
                if d not in dirs:
                    # a vacuumed dir's files are unknown: its remove names
                    # the dir, so a change-feed read of the commit fails
                    # rather than miss its deletes
                    gone = adds.pop(d)
                    for add in gone if gone is not None else [{"path": d}]:
                        actions.append({"remove": _remove_action(add, ms, data_change)})
            for d in dirs:
                if d not in active:
                    adds[d] = (
                        [_add_action(root, f, part_cols, data_change) for f in _data_files(root, d)]
                        if (root / d).is_dir()
                        else None
                    )
                    actions += [{"add": a} for a in adds[d] or []]
            active = dirs
            for a in actions:
                snap.apply(a)
            snap.version = version
            if version == start and start:
                table._write_checkpoint(snap)
            if version >= start:
                table._write_commit(version, actions)
        table.log_dir.rename(root / LOG_DIR)
    finally:
        shutil.rmtree(table.log_dir, ignore_errors=True)
    return start, len(entries) - 1
