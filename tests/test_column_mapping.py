"""Delta column-mapping support (delta/protocol.py; reads r9, full
write surface + CREATE authoring r10).

Fixtures are hand-authored per the public Delta PROTOCOL.md ("Column
Mapping"): parquet files whose columns carry the PHYSICAL
``col-<uuid>`` names, a schemaString whose fields carry
``delta.columnMapping.id`` / ``delta.columnMapping.physicalName``
metadata, physical-keyed ``partitionValues`` and physical-named hive
directories — the exact layout delta-spark emits with
``delta.columnMapping.mode = name`` (mode ``id`` additionally stamps
parquet field ids; both name parquet columns physically).
append/upsert/replace/compact stage through the shared physical
rename path; only schema migration stays refused.  Reference
behavior: the pinned delta-rs rev reads and writes such tables
(aqueducts/delta/src/lib.rs:45-74, 177-231).
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aqueducts_spark.delta.protocol import (
    DeltaProtocolError,
    DeltaProtocolTable,
)

_PHYS_ID = "col-173e4db4-4d1c-4fbe-a7e8-a1cfc8a21e49"
_PHYS_NAME = "col-c1e42f43-2f6b-4dbe-b77f-57e42c21d2b3"
_PHYS_NESTED = "col-9a0e1bd1-0000-4d08-9e5a-6e35b15c0dce"
_PHYS_INNER = "col-55e7f4a1-1111-4f8e-b2bd-1cf0c2a7b001"
_PHYS_PART = "col-7b12ab34-2222-45aa-97ce-1b2e3f4a5b6c"


def _field(name: str, typ, cid: int, phys: str, **kw):
    return {
        "name": name,
        "type": typ,
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": cid,
            "delta.columnMapping.physicalName": phys,
        },
        **kw,
    }


def _schema_string(with_part: bool = False) -> str:
    nested = {
        "type": "struct",
        "fields": [_field("inner", "string", 4, _PHYS_INNER)],
    }
    fields = [
        _field("id", "long", 1, _PHYS_ID),
        _field("name", "string", 2, _PHYS_NAME),
        _field("meta", nested, 3, _PHYS_NESTED),
    ]
    if with_part:
        fields.append(_field("p", "string", 5, _PHYS_PART))
    return json.dumps({"type": "struct", "fields": fields})


def _data_table(ids, names, inners):
    return pa.table(
        {
            _PHYS_ID: pa.array(ids, pa.int64()),
            _PHYS_NAME: pa.array(names, pa.string()),
            _PHYS_NESTED: pa.array(
                [{_PHYS_INNER: x} for x in inners],
                pa.struct([pa.field(_PHYS_INNER, pa.string())]),
            ),
        }
    )


def _protocol_action(mode: str, legacy: bool = False) -> dict:
    if legacy:
        # pre-feature form: minReaderVersion 2 IS column mapping
        return {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        }
    }


def _meta_action(mode: str, with_part: bool = False) -> dict:
    return {
        "metaData": {
            "id": "cm-test-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(with_part),
            "partitionColumns": ["p"] if with_part else [],
            "configuration": {
                "delta.columnMapping.mode": mode,
                "delta.columnMapping.maxColumnId": "5",
            },
        }
    }


def _write_mapped_table(root: Path, mode: str = "name", legacy: bool = False):
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    pq.write_table(
        _data_table([1, 2, 3], ["a", "b", "c"], ["x", "y", "z"]),
        root / "part-0.parquet",
    )
    actions = [
        _protocol_action(mode, legacy),
        _meta_action(mode),
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )


def _write_mapped_partitioned_table(root: Path, mode: str = "name"):
    """Hive layout + partitionValues keyed by the PHYSICAL name, the
    delta-spark on-disk form for mapped partitioned tables."""
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    actions = [_protocol_action(mode), _meta_action(mode, with_part=True)]
    for pval, ids in (("east", [1, 2]), ("west", [3])):
        d = root / f"{_PHYS_PART}={pval}"
        d.mkdir()
        pq.write_table(
            _data_table(ids, [f"n{i}" for i in ids], [f"i{i}" for i in ids]),
            d / "part-0.parquet",
        )
        actions.append(
            {
                "add": {
                    "path": f"{_PHYS_PART}={pval}/part-0.parquet",
                    "partitionValues": {_PHYS_PART: pval},
                    "size": 1,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                }
            }
        )
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )


@pytest.mark.parametrize("mode", ["name", "id"])
@pytest.mark.parametrize("legacy", [False, True])
def test_read_mapped_table_logical_names(spark, tmp_path, mode, legacy):
    root = tmp_path / "tbl"
    _write_mapped_table(root, mode=mode, legacy=legacy)
    df = DeltaProtocolTable(spark, str(root)).read()
    assert df.columns == ["id", "name", "meta"]
    # nested struct fields are renamed too
    assert df.schema["meta"].dataType.fieldNames() == ["inner"]
    rows = {r.id: (r.name, r.meta.inner) for r in df.collect()}
    assert rows == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}


def test_read_mapped_partitioned_table(spark, tmp_path):
    root = tmp_path / "tbl"
    _write_mapped_partitioned_table(root)
    df = DeltaProtocolTable(spark, str(root)).read()
    assert set(df.columns) == {"id", "name", "meta", "p"}
    got = sorted((r.id, r.p) for r in df.collect())
    assert got == [(1, "east"), (2, "east"), (3, "west")]


def test_unknown_mapping_mode_refused(spark, tmp_path):
    root = tmp_path / "tbl"
    _write_mapped_table(root)
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    actions[1]["metaData"]["configuration"]["delta.columnMapping.mode"] = "weird"
    log.write_text("\n".join(json.dumps(a) for a in actions))
    with pytest.raises(DeltaProtocolError, match="weird"):
        DeltaProtocolTable(spark, str(root)).read()


def test_missing_physical_name_refused(spark, tmp_path):
    root = tmp_path / "tbl"
    _write_mapped_table(root)
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    schema = json.loads(actions[1]["metaData"]["schemaString"])
    del schema["fields"][1]["metadata"]["delta.columnMapping.physicalName"]
    actions[1]["metaData"]["schemaString"] = json.dumps(schema)
    log.write_text("\n".join(json.dumps(a) for a in actions))
    with pytest.raises(DeltaProtocolError, match="physicalName"):
        DeltaProtocolTable(spark, str(root)).read()


def test_upsert_replace_compact_on_mapped_table(spark, tmp_path):
    """r10: the full write surface works on mapped tables through the
    shared physical staging path — upsert merges by logical key,
    replace honors a logical-name predicate, compact rewrites with
    dataChange=false; the clean-room reader agrees after each."""
    import sys

    sys.path.insert(0, str(Path(__file__).parent))
    from _delta_reader import read_delta_table

    root = tmp_path / "tbl"
    _write_mapped_table(root)
    t = DeltaProtocolTable(spark, str(root))

    def both_readers():
        ours = {r.id: (r.name, r.meta.inner) for r in t.read().collect()}
        _, rows = read_delta_table(root)
        ind = {r["id"]: (r["name"], r["meta"]["inner"]) for r in rows}
        assert ours == ind
        return ours

    up = spark.createDataFrame(
        [(2, "B", ("Y",)), (9, "z", ("q",))],
        "id bigint, name string, meta struct<inner string>",
    )
    t.upsert(up, ["id"])
    assert both_readers() == {
        1: ("a", "x"), 2: ("B", "Y"), 3: ("c", "z"), 9: ("z", "q")
    }

    rep = spark.createDataFrame(
        [(3, "C", ("Z",))], "id bigint, name string, meta struct<inner string>"
    )
    t.replace(rep, [("id", "3")])
    assert both_readers() == {
        1: ("a", "x"), 2: ("B", "Y"), 3: ("C", "Z"), 9: ("z", "q")
    }

    v = t.compact(target_partitions=1)
    assert both_readers() == {
        1: ("a", "x"), 2: ("B", "Y"), 3: ("C", "Z"), 9: ("z", "q")
    }
    # compact's files are physical too: every live add's parquet names
    # its columns physically
    commit = (root / "_delta_log" / f"{v:020d}.json").read_text()
    adds = [
        json.loads(l)["add"]
        for l in commit.splitlines()
        if l.strip() and "add" in json.loads(l)
    ]
    assert adds and not any(a["dataChange"] for a in adds)
    for a in adds:
        names = set(pq.read_schema(root / a["path"]).names)
        assert _PHYS_ID in names and "id" not in names


def test_schema_migration_on_mapped_table_assigns_ids(spark, tmp_path):
    """ADD COLUMNS on a mapped table assigns a fresh column id past
    maxColumnId and a col-<uuid> physicalName; old files null-fill the
    new column and appends carry it physically."""
    import sys

    sys.path.insert(0, str(Path(__file__).parent))
    from _delta_reader import read_delta_table

    from aqueducts_spark.types import Field

    root = tmp_path / "tbl"
    _write_mapped_table(root)
    t = DeltaProtocolTable(spark, str(root))
    same = [Field("id", "int64"), Field("name", "string")]
    t.create_if_absent(same, [], {}, {})  # no new columns: no-op
    assert not (root / "_delta_log" / f"{1:020d}.json").exists()

    t.create_if_absent(same + [Field("extra", "string")], [], {}, {})
    commit = (root / "_delta_log" / f"{1:020d}.json").read_text()
    meta = next(
        json.loads(l)["metaData"]
        for l in commit.splitlines()
        if l.strip() and "metaData" in json.loads(l)
    )
    sch = json.loads(meta["schemaString"])
    extra_md = sch["fields"][-1]["metadata"]
    assert sch["fields"][-1]["name"] == "extra"
    assert extra_md["delta.columnMapping.id"] == 6  # past maxColumnId=5
    assert str(extra_md["delta.columnMapping.physicalName"]).startswith("col-")
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "6"

    # old files null-fill; an append lands the new column physically
    df = spark.createDataFrame(
        [(9, "z", ("q",), "E")],
        "id bigint, name string, meta struct<inner string>, extra string",
    )
    t.append(df)
    got = {r.id: r.extra for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: None, 9: "E"}
    _, rows = read_delta_table(root)
    assert {r["id"]: r["extra"] for r in rows} == got


def test_cdf_upsert_on_mapped_table(spark, tmp_path):
    """CDF-enabled mapped table: upsert stages PHYSICAL cdc files and
    change_feed renders them logically."""
    root = tmp_path / "tbl"
    _write_mapped_table(root, legacy=True)  # writer 5 covers CDF duties
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    for a in actions:
        if "metaData" in a:
            a["metaData"]["configuration"][
                "delta.enableChangeDataFeed"
            ] = "true"
    log.write_text("\n".join(json.dumps(a) for a in actions))
    t = DeltaProtocolTable(spark, str(root))
    up = spark.createDataFrame(
        [(2, "B", ("Y",))], "id bigint, name string, meta struct<inner string>"
    )
    v = t.upsert(up, ["id"])
    cf = t.change_feed(v - 1, v)
    got = sorted((r.id, r.name, r._change_type) for r in cf.collect())
    assert got == [(2, "B", "insert"), (2, "b", "delete")]
    # the staged cdc parquet is physically named
    cdc_files = list((root / "_change_data").rglob("*.parquet"))
    assert cdc_files
    names = set(pq.read_schema(cdc_files[0]).names)
    assert _PHYS_ID in names and "_change_type" in names


_APPEND_SQL = (
    "id bigint, name string, meta struct<inner string>"
)


@pytest.mark.parametrize("mode", ["name", "id"])
@pytest.mark.parametrize("legacy", [False, True])
def test_append_to_mapped_table_round_trips(spark, tmp_path, mode, legacy):
    """Append to a column-mapped table (r10): the batch arrives with
    LOGICAL names and lands physically — parquet columns (and nested
    fields) carry the physical names plus parquet field ids, stats keys
    are physical — and both our reader and the clean-room independent
    reader agree on the logical contents afterwards."""
    import sys

    sys.path.insert(0, str(Path(__file__).parent))
    from _delta_reader import read_delta_table

    root = tmp_path / "tbl"
    _write_mapped_table(root, mode=mode, legacy=legacy)
    t = DeltaProtocolTable(spark, str(root))
    df = spark.createDataFrame([(9, "z", ("q",))], _APPEND_SQL)
    v = t.append(df)
    assert v == 1

    got = {r.id: (r.name, r.meta.inner) for r in t.read().collect()}
    assert got == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z"), 9: ("z", "q")}

    # independent reader sees the same logical rows
    cols, rows = read_delta_table(root)
    assert [c for c, _ in cols] == ["id", "name", "meta"]
    ind = {r["id"]: (r["name"], r["meta"]["inner"]) for r in rows}
    assert ind == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z"), 9: ("z", "q")}

    # the staged file itself is PHYSICAL: column names, nested names,
    # field ids, and the add action's stats keys
    commit = (root / "_delta_log" / f"{1:020d}.json").read_text()
    adds = [
        json.loads(l)["add"]
        for l in commit.splitlines()
        if l.strip() and "add" in json.loads(l)
    ]
    assert len(adds) >= 1
    for a in adds:
        pf = pq.ParquetFile(root / a["path"])
        names = set(pf.schema_arrow.names)
        assert _PHYS_ID in names and _PHYS_NAME in names
        assert "id" not in names and "name" not in names
        nested = pf.schema_arrow.field(_PHYS_NESTED).type
        assert nested.field(0).name == _PHYS_INNER
        fid = pf.schema_arrow.field(_PHYS_ID).metadata or {}
        assert fid.get(b"PARQUET:field_id") == b"1"
        stats = json.loads(a["stats"])
        assert _PHYS_ID in stats["nullCount"]
        assert "id" not in stats["nullCount"]


def test_append_to_mapped_partitioned_table(spark, tmp_path):
    """Partition dirs and partitionValues keys come out PHYSICAL."""
    import sys

    sys.path.insert(0, str(Path(__file__).parent))
    from _delta_reader import read_delta_table

    root = tmp_path / "tbl"
    _write_mapped_partitioned_table(root)
    t = DeltaProtocolTable(spark, str(root))
    df = spark.createDataFrame(
        [(9, "z", ("q",), "north")],
        "id bigint, name string, meta struct<inner string>, p string",
    )
    t.append(df)
    got = sorted((r.id, r.p) for r in t.read().collect())
    assert got == [(1, "east"), (2, "east"), (3, "west"), (9, "north")]
    commit = (root / "_delta_log" / f"{1:020d}.json").read_text()
    adds = [
        json.loads(l)["add"]
        for l in commit.splitlines()
        if l.strip() and "add" in json.loads(l)
    ]
    assert adds and all(
        a["partitionValues"] == {_PHYS_PART: "north"} for a in adds
    )
    assert all(a["path"].startswith(f"{_PHYS_PART}=north/") for a in adds)
    _, rows = read_delta_table(root)
    assert sorted((r["id"], r["p"]) for r in rows) == got


def test_append_refused_on_generated_columns(spark, tmp_path):
    """A writer-5 table whose schema declares a generation expression
    is refused (we cannot compute it); the same protocol version with
    no generated columns appends fine (covered above).  Uses the LEGACY
    writer-5 protocol form — version 5 itself implies the duty; a
    feature table carries it only when ``generatedColumns`` is listed."""
    root = tmp_path / "tbl"
    _write_mapped_table(root, legacy=True)
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    for a in actions:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][1]["metadata"]["delta.generationExpression"] = (
                "CAST(id AS STRING)"
            )
            a["metaData"]["schemaString"] = json.dumps(sch)
    log.write_text("\n".join(json.dumps(a) for a in actions))
    t = DeltaProtocolTable(spark, str(root))
    df = spark.createDataFrame([(9, "z", ("q",))], _APPEND_SQL)
    with pytest.raises(DeltaProtocolError, match="generated columns"):
        t.append(df)


def test_change_feed_on_mapped_table(spark, tmp_path):
    root = tmp_path / "tbl"
    _write_mapped_table(root)
    # second commit adds a file (dataChange insert derivation)
    pq.write_table(_data_table([4], ["d"], ["w"]), root / "part-1.parquet")
    (root / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "add": {
                    "path": "part-1.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                }
            }
        )
    )
    cf = DeltaProtocolTable(spark, str(root)).change_feed(0)
    rows = cf.collect()
    assert [r.id for r in rows] == [4]
    assert rows[0]._change_type == "insert" and rows[0].name == "d"


def test_changes_across_a_column_rename_diffs_every_file(spark, tmp_path):
    """A rename keeps every file live but changes the rows each file
    reads as, so the endpoint diff must not cancel the shared files:
    every row leaves under its old column and comes back under the
    new one, as in a diff of the two full snapshots."""
    root = tmp_path / "tbl"
    _write_mapped_table(root)
    meta = _meta_action("name")
    schema = json.loads(meta["metaData"]["schemaString"])
    schema["fields"][1]["name"] = "label"  # same physical name
    meta["metaData"]["schemaString"] = json.dumps(schema)
    (root / "_delta_log" / f"{1:020d}.json").write_text(json.dumps(meta))
    rows = DeltaProtocolTable(spark, str(root)).changes(0, 1).collect()
    assert len(rows) == 6
    assert {(r.id, r.name, r.label, r._change_type) for r in rows} == {
        (1, None, "a", "insert"),
        (1, "a", None, "delete"),
        (2, None, "b", "insert"),
        (2, "b", None, "delete"),
        (3, None, "c", "insert"),
        (3, "c", None, "delete"),
    }


def test_time_travel_on_mapped_table(spark, tmp_path):
    root = tmp_path / "tbl"
    _write_mapped_table(root)
    pq.write_table(_data_table([4], ["d"], ["w"]), root / "part-1.parquet")
    (root / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "add": {
                    "path": "part-1.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                }
            }
        )
    )
    t = DeltaProtocolTable(spark, str(root))
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in t.read(version=0).collect()) == [1, 2, 3]


def test_mapped_table_with_deletion_vectors(spark, tmp_path):
    """Both r8+r9 reader features on ONE table — the combination a
    modern engine actually writes (delta-spark with columnMapping AND
    enableDeletionVectors): the DV row-index anti-join must run on the
    physical scan and the logical rename must come after."""
    from aqueducts_spark.delta.deletion_vectors import (
        encode_dv_bytes,
        z85_encode,
    )

    root = tmp_path / "tbl"
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    pq.write_table(
        _data_table([1, 2, 3, 4, 5], list("abcde"), list("vwxyz")),
        root / "part-0.parquet",
    )
    data = encode_dv_bytes([1, 3])  # delete ids 2 and 4 by position
    pad = (-len(data)) % 4
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping", "deletionVectors"],
                "writerFeatures": ["columnMapping", "deletionVectors"],
            }
        },
        _meta_action("name"),
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000000000,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
                    "sizeInBytes": len(data),
                    "cardinality": 2,
                },
            }
        },
    ]
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    df = DeltaProtocolTable(spark, str(root)).read()
    assert df.columns == ["id", "name", "meta"]
    rows = {r.id: (r.name, r.meta.inner) for r in df.collect()}
    assert rows == {1: ("a", "v"), 3: ("c", "x"), 5: ("e", "z")}


def _data_table_id_named(ids, names, inners):
    """Parquet layout of a spec-compliant mode=id writer that does NOT
    use physical names: arbitrary column names, identity carried by
    parquet field ids (matching delta.columnMapping.id)."""

    def f(name, typ, fid):
        return pa.field(name, typ, metadata={b"PARQUET:field_id": str(fid).encode()})

    schema = pa.schema(
        [
            f("some_id", pa.int64(), 1),
            f("some_name", pa.string(), 2),
            f("some_meta", pa.struct([f("some_inner", pa.string(), 4)]), 3),
        ]
    )
    return pa.table(
        {
            "some_id": pa.array(ids, pa.int64()),
            "some_name": pa.array(names, pa.string()),
            "some_meta": pa.array(
                [{"some_inner": x} for x in inners],
                pa.struct([pa.field("some_inner", pa.string())]),
            ),
        }
    ).cast(schema)


def test_id_mode_field_id_matching(spark, tmp_path):
    """mode=id with parquet columns NOT physically named: resolution
    must go through parquet field ids (before r9.1 this silently
    null-filled every data column — name matching found nothing)."""
    root = tmp_path / "tbl"
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    pq.write_table(
        _data_table_id_named([1, 2], ["a", "b"], ["x", "y"]),
        root / "part-0.parquet",
    )
    actions = [
        _protocol_action("id"),
        _meta_action("id"),
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    df = DeltaProtocolTable(spark, str(root)).read()
    assert df.columns == ["id", "name", "meta"]
    rows = {r.id: (r.name, r.meta.inner) for r in df.collect()}
    assert rows == {1: ("a", "x"), 2: ("b", "y")}


def test_mapped_table_with_foreign_names_and_no_ids_refused(spark, tmp_path):
    """Parquet columns that are neither physically named nor id-stamped:
    no resolution is possible — must refuse loudly, never null-fill."""
    root = tmp_path / "tbl"
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    pq.write_table(
        pa.table(
            {
                "wrong_a": pa.array([1], pa.int64()),
                "wrong_b": pa.array(["x"]),
                "wrong_c": pa.array(
                    [{"q": "v"}], pa.struct([pa.field("q", pa.string())])
                ),
            }
        ),
        root / "part-0.parquet",
    )
    actions = [
        _protocol_action("name"),
        _meta_action("name"),
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    with pytest.raises(DeltaProtocolError, match="null-fill"):
        DeltaProtocolTable(spark, str(root)).read()


def test_schema_evolved_mapped_table_old_files_null_fill(spark, tmp_path):
    """Standard additive evolution on a mapped table: OLD files lack a
    later-added physical column and must null-fill — the r9.1 probe's
    first cut required the FULL physical name set in the probed (old)
    footer and refused a perfectly readable table."""
    root = tmp_path / "tbl"
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    # old file: only the first two physical columns existed back then
    pq.write_table(
        pa.table(
            {
                _PHYS_ID: pa.array([1, 2], pa.int64()),
                _PHYS_NAME: pa.array(["a", "b"]),
            }
        ),
        root / "aaa-old.parquet",  # lexicographically FIRST -> the probe target
    )
    pq.write_table(
        _data_table([3], ["c"], ["z"]),
        root / "bbb-new.parquet",
    )
    actions = [_protocol_action("name"), _meta_action("name")]
    for p in ("aaa-old.parquet", "bbb-new.parquet"):
        actions.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                }
            }
        )
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    df = DeltaProtocolTable(spark, str(root)).read()
    rows = {r.id: (r.name, r.meta) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", ("z",))}


def test_change_feed_probes_range_files_not_snapshot(spark, tmp_path):
    """CDF over an id-named mapped table whose FINAL snapshot is empty
    (all rows deleted): the probe must target a file from the range's
    own actions — the snapshot fallback silently null-filled every data
    column."""
    root = tmp_path / "tbl"
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    pq.write_table(
        _data_table_id_named([1, 2], ["a", "b"], ["x", "y"]),
        root / "part-0.parquet",
    )
    actions = [
        _protocol_action("id"),
        _meta_action("id"),
        {
            "add": {
                "path": "part-0.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        },
    ]
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    # commit 1 removes the file -> v1 snapshot has ZERO data files
    (root / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "remove": {
                    "path": "part-0.parquet",
                    "dataChange": True,
                    "deletionTimestamp": 1700000001000,
                }
            }
        )
    )
    cf = DeltaProtocolTable(spark, str(root)).change_feed(-1)
    rows = sorted((r.id, r.name, r._change_type) for r in cf.collect())
    assert rows == [
        (1, "a", "delete"),
        (1, "a", "insert"),
        (2, "b", "delete"),
        (2, "b", "insert"),
    ]


def test_mixed_layout_table_refused(spark, tmp_path):
    """A mapped table mixing a physically-NAMED file with an
    id-only-named file is refused loudly (r10 two-footer probe) —
    before, whichever class the single probe missed silently
    null-filled."""
    root = tmp_path / "tbl"
    root.mkdir(parents=True)
    (root / "_delta_log").mkdir()
    pq.write_table(
        _data_table([1], ["a"], ["x"]), root / "aaa-named.parquet"
    )
    pq.write_table(
        _data_table_id_named([2], ["b"], ["y"]), root / "zzz-ids.parquet"
    )
    actions = [_protocol_action("name"), _meta_action("name")]
    for p in ("aaa-named.parquet", "zzz-ids.parquet"):
        actions.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                }
            }
        )
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    with pytest.raises(DeltaProtocolError, match="mixes resolution"):
        DeltaProtocolTable(spark, str(root)).read()


def test_change_feed_probe_skips_unreplayed_and_vacuumed(spark, tmp_path):
    """The CDF column-mapping probe targets only files the replay will
    READ (ADVICE r9): a commit carrying cdc actions plus an
    OPTIMIZE-style dataChange=false add whose file was vacuumed must
    still serve the range from the surviving cdc file."""
    root = tmp_path / "tbl"
    _write_mapped_table(root)
    (root / "_change_data").mkdir()
    pq.write_table(
        _data_table([7], ["g"], ["u"]),
        root / "_change_data" / "cdc-0.parquet",
    )
    # the commit ALSO references a compacted file that no longer exists
    # (vacuumed) — dataChange=false, so the replay never reads it; it
    # must not be probed either
    actions = [
        {
            "cdc": {
                "path": "_change_data/cdc-0.parquet",
                "partitionValues": {},
                "size": 1,
                "dataChange": False,
            }
        },
        {
            "add": {
                "path": "vacuumed-compaction.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1700000001000,
                "dataChange": False,
            }
        },
    ]
    (root / "_delta_log" / f"{1:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    cf = DeltaProtocolTable(spark, str(root)).change_feed(0)
    rows = cf.collect()
    assert [r.id for r in rows] == [7]
    assert rows[0].meta.inner == "u"


def test_create_mapped_table_authoring(spark, tmp_path):
    """CREATE with delta.columnMapping.mode=name authors per-field
    ids + col-<uuid> physicalNames and the legacy reader2/writer5
    protocol binding; the table then round-trips through append and
    both readers."""
    import sys

    sys.path.insert(0, str(Path(__file__).parent))
    from _delta_reader import read_delta_table

    from aqueducts_spark.types import Field

    root = tmp_path / "tbl"
    t = DeltaProtocolTable(spark, str(root))
    t.create_if_absent(
        [Field("id", "int64"), Field("name", "string")],
        [],
        {"delta.columnMapping.mode": "name"},
        {},
    )
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    sch = json.loads(meta["schemaString"])
    mds = [f["metadata"] for f in sch["fields"]]
    assert [m["delta.columnMapping.id"] for m in mds] == [1, 2]
    assert all(
        str(m["delta.columnMapping.physicalName"]).startswith("col-")
        for m in mds
    )
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "2"

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    t.append(df)
    assert {r.id: r.name for r in t.read().collect()} == {1: "a", 2: "b"}
    _, rows = read_delta_table(root)
    assert {r["id"]: r["name"] for r in rows} == {1: "a", 2: "b"}
    # the staged parquet is physically named
    add = next(
        json.loads(l)["add"]
        for l in (root / "_delta_log" / f"{1:020d}.json").read_text().splitlines()
        if l.strip() and "add" in json.loads(l)
    )
    names = set(pq.read_schema(root / add["path"]).names)
    assert not ({"id", "name"} & names)


def test_create_mapped_with_cdf_uses_feature_protocol(spark, tmp_path):
    """Mapping + CDF together must ride the feature table with
    columnMapping in BOTH feature lists."""
    from aqueducts_spark.types import Field

    root = tmp_path / "tbl"
    t = DeltaProtocolTable(spark, str(root))
    t.create_if_absent(
        [Field("id", "int64")],
        [],
        {
            "delta.columnMapping.mode": "name",
            "delta.enableChangeDataFeed": "true",
        },
        {},
    )
    log = root / "_delta_log" / f"{0:020d}.json"
    proto = next(
        json.loads(l)["protocol"]
        for l in log.read_text().splitlines()
        if "protocol" in json.loads(l)
    )
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "columnMapping" in proto["readerFeatures"]
    assert "columnMapping" in proto["writerFeatures"]
    assert "changeDataFeed" in proto["writerFeatures"]


def test_create_unknown_mapping_mode_refused(spark, tmp_path):
    from aqueducts_spark.types import Field

    t = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
    with pytest.raises(DeltaProtocolError, match="weird"):
        t.create_if_absent(
            [Field("id", "int64")],
            [],
            {"delta.columnMapping.mode": "weird"},
            {},
        )
