"""Delta-protocol table tests: round trips through our own writer AND
interop with logs written the way external engines (delta-rs /
delta-spark) write them — JSON commits, URL-encoded paths, stringly
partitionValues, parquet checkpoints, protocol/feature gating.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from pathlib import Path
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from aqueducts_spark.delta.protocol import (
    CDC_DIR,
    LOG_DIR,
    DeltaProtocolError,
    DeltaProtocolTable,
)
from aqueducts_spark.delta.table import delta_layer
from aqueducts_spark.types import Field


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


FIELDS = [
    Field(name="id", data_type="int64", nullable=False),
    Field(name="name", data_type="string", nullable=True),
    Field(name="score", data_type="double", nullable=True),
]


def _make(spark, tmp_path, name="tbl", partition_columns=None, fields=FIELDS):
    t = DeltaProtocolTable(spark, str(tmp_path / name))
    t.create_if_absent(fields, partition_columns or [], {}, {})
    return t


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, score double")


# ---------------------------------------------------------------------------
# round trips through our writer
# ---------------------------------------------------------------------------


def test_create_append_read_roundtrip(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.append(_df(spark, [(3, "c", 3.0)]))
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]

    log = tmp_path / "tbl" / "_delta_log"
    names = sorted(p.name for p in log.glob("*.json"))
    assert names == [f"{v:020d}.json" for v in range(3)]

    # version 0 must carry protocol + metaData with a Spark-JSON schema
    actions = [json.loads(l) for l in (log / names[0]).read_text().splitlines()]
    keys = {k for a in actions for k in a}
    assert {"protocol", "metaData"} <= keys
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    schema = json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "name", "score"]
    assert meta["format"] == {"provider": "parquet", "options": {}}

    # add actions carry stats with numRecords
    adds = [
        json.loads(l)["add"]
        for n in names[1:]
        for l in (log / n).read_text().splitlines()
        if '"add"' in l
    ]
    assert len(adds) >= 2
    for a in adds:
        stats = json.loads(a["stats"])
        assert stats["numRecords"] >= 1
        assert (tmp_path / "tbl" / a["path"]).is_file()


def test_append_casts_to_declared_schema(spark, tmp_path):
    t = _make(spark, tmp_path)
    src = spark.createDataFrame([(1, "x", "7.5")], "id int, name string, score string")
    t.append(src)
    df = t.read()
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    assert _rows(df) == [(1, "x", 7.5)]


def test_append_missing_column_rejected(spark, tmp_path):
    t = _make(spark, tmp_path)
    with pytest.raises(DeltaProtocolError, match="missing columns"):
        t.append(spark.createDataFrame([(1,)], "id long"))


def test_upsert_and_replace(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.upsert(_df(spark, [(2, "B", 20.0), (3, "c", 3.0)]), keys=["id"])
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]

    t.replace(_df(spark, [(9, "z", 9.0)]), conditions=[("name", "B")])
    assert _rows(t.read()) == [(1, "a", 1.0), (3, "c", 3.0), (9, "z", 9.0)]


def test_time_travel_by_version(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    t.append(_df(spark, [(2, "b", 2.0)]))
    assert _rows(t.read(version=1)) == [(1, "a", 1.0)]
    assert _rows(t.read(version=0)) == []
    with pytest.raises(DeltaProtocolError, match="version 99"):
        t.read(version=99)


def test_time_travel_by_timestamp(spark, tmp_path):
    import datetime as dt

    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    # rewrite commitInfo timestamps so versions are spaced out in time
    log = tmp_path / "tbl" / "_delta_log"
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000
    for v in (0, 1):
        p = log / f"{v:020d}.json"
        lines = []
        for line in p.read_text().splitlines():
            a = json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = int(base + v * 3_600_000)
            lines.append(json.dumps(a))
        p.write_text("\n".join(lines))
    assert _rows(t.read(timestamp="2024-01-01T00:30:00Z")) == []
    assert _rows(t.read(timestamp="2024-01-01T02:00:00Z")) == [(1, "a", 1.0)]
    with pytest.raises(DeltaProtocolError, match="no version at or before"):
        t.read(timestamp="2023-01-01T00:00:00Z")


def test_partitioned_roundtrip_hive_layout(spark, tmp_path):
    t = _make(spark, tmp_path, partition_columns=["name"])
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]))
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]

    log = tmp_path / "tbl" / "_delta_log"
    adds = [
        json.loads(l)["add"]
        for l in (log / f"{1:020d}.json").read_text().splitlines()
        if '"add"' in l
    ]
    assert {a["partitionValues"]["name"] for a in adds} == {"a", "b"}
    for a in adds:
        assert a["path"].startswith(f"name={a['partitionValues']['name']}/")

    # partition pruning: only matching files are scanned
    pruned = t.read().filter("name = 'a'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert _rows(pruned) == [(1, "a", 1.0), (3, "a", 3.0)]
    assert "name=b" not in plan


def test_schema_migration_additive_only(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    extra = FIELDS + [Field(name="tag", data_type="string", nullable=True)]
    t.create_if_absent(extra, [], {}, {})
    df = t.read()
    assert "tag" in df.columns
    # pre-migration files surface the new column as nulls
    assert [r.tag for r in df.collect()] == [None]
    t.append(
        spark.createDataFrame([(2, "b", 2.0, "x")], "id long, name string, score double, tag string")
    )
    assert _rows(t.read()) == [(1, "a", 1.0, None), (2, "b", 2.0, "x")]

    bad = [Field(name="id", data_type="string", nullable=True)]
    with pytest.raises(DeltaProtocolError, match="cannot change column"):
        t.create_if_absent(bad, [], {}, {})


def test_checkpoint_written_and_replayable_after_log_truncation(spark, tmp_path):
    t = _make(spark, tmp_path)
    for i in range(11):  # versions 1..11 -> checkpoint at 10
        t.append(_df(spark, [(i, f"n{i}", float(i))]))
    log = tmp_path / "tbl" / "_delta_log"
    assert (log / f"{10:020d}.checkpoint.parquet").is_file()
    last = json.loads((log / "_last_checkpoint").read_text())
    assert last["version"] == 10

    expected = _rows(t.read())
    # Delta allows deleting commits covered by a checkpoint
    for v in range(10):
        (log / f"{v:020d}.json").unlink()
    t2 = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
    assert _rows(t2.read()) == expected
    assert len(expected) == 11


def test_history_compact_vacuum(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    t.append(_df(spark, [(2, "b", 2.0)]))
    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[0]["operation"] == "CREATE TABLE"
    assert hist[1]["operation"] == "WRITE"

    before = _rows(t.read())
    v = t.compact(target_partitions=1)
    assert _rows(t.read()) == before
    # compaction preserves time travel until vacuum
    assert _rows(t.read(version=v - 1)) == before

    data_files = lambda: [  # noqa: E731
        p for p in (tmp_path / "tbl").rglob("*.parquet")
        if "_delta_log" not in p.parts
    ]
    n_before = len(data_files())
    removed = t.vacuum(keep_versions=1)
    assert removed and len(data_files()) == n_before - len(removed)
    assert _rows(t.read()) == before


def test_changes_between_versions(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    t.upsert(_df(spark, [(1, "A", 10.0), (2, "b", 2.0)]), keys=["id"])
    diff = t.changes(1, 2)
    tagged = sorted((r.id, r._change_type) for r in diff.collect())
    assert tagged == [(1, "delete"), (1, "insert"), (2, "insert")]


# ---------------------------------------------------------------------------
# file-level MERGE and change diff
# ---------------------------------------------------------------------------

MERGE_FIELDS = [
    Field(name="k", data_type="int64", nullable=True),
    Field(name="p", data_type="string", nullable=True),
    Field(name="v", data_type="int64", nullable=True),
]
PARTS = "abcdef"
# updates in a, b and e; key 1 twice in the batch; the NULL key matches
# the NULL-key row of c (null-safe); key 30 lives in d and moves to e;
# key 100 is new
MERGE_BATCH = [
    (1, "a", 1),
    (1, "a", 2),
    (11, "b", 1),
    (None, "c", 1),
    (30, "e", 1),
    (41, "e", 1),
    (100, "a", 1),
]


def _mdf(spark, rows):
    return spark.createDataFrame(rows, "k long, p string, v long")


def _merge_table(spark, tmp_path, partitioned=True, props=None, name="m"):
    """Six values of ``p``, three keys each plus a NULL key in c, one
    append (one file) per value."""
    t = DeltaProtocolTable(spark, str(tmp_path / name))
    t.create_if_absent(MERGE_FIELDS, ["p"] if partitioned else [], props or {}, {})
    for i, p in enumerate(PARTS):
        rows = [(i * 10 + j, p, 0) for j in range(3)]
        if p == "c":
            rows.append((None, "c", 0))
        t.append(_mdf(spark, rows).coalesce(1))
    return t


def _commit(t, version):
    path = t.log_dir / f"{version:020d}.json"
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


def _merge_reference(before, batch, keys):
    """Delete every row whose key the batch carries, insert the batch."""
    return Counter([r for r in before.elements() if r[0] not in keys] + batch)


@pytest.mark.parametrize("partitioned", [True, False], ids=["partitioned", "flat"])
def test_upsert_rewrites_only_the_files_holding_matched_rows(spark, tmp_path, partitioned):
    t = _merge_table(spark, tmp_path, partitioned)
    keys = {r[0] for r in MERGE_BATCH}
    files = t._snapshot().files
    holding = {
        path
        for path in files
        if keys & set(pq.read_table(t.root / path, columns=["k"]).column("k").to_pylist())
    }
    assert len(holding) == 5  # every file but f's
    before = _bag(t.read())

    v = t.upsert(_mdf(spark, MERGE_BATCH), keys=["k"])

    assert _bag(t.read()) == _merge_reference(before, MERGE_BATCH, keys)
    actions = _commit(t, v)
    removed = {unquote(a["remove"]["path"]) for a in actions if "remove" in a}
    assert removed == holding
    live = t._snapshot().files
    added = {unquote(a["add"]["path"]) for a in actions if "add" in a}
    for path in set(files) - holding:
        assert path in live and path not in added
        assert live[path] == files[path]


def test_upsert_keeps_one_file_per_partition_value(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    t.upsert(_mdf(spark, MERGE_BATCH), keys=["k"])
    # each later batch updates a key of one value and adds a new key there
    for i, p in enumerate("abcd"):
        t.upsert(_mdf(spark, [(i * 10 + 2, p, 9), (200 + i, p, 9)]), keys=["k"])
    per_value = Counter(a["partitionValues"]["p"] for a in t._snapshot().files.values())
    assert per_value == {p: 1 for p in PARTS}

    v = t.upsert(_mdf(spark, [(500, "f", 1), (501, "b", 1)]), keys=["k"])
    actions = _commit(t, v)
    assert not [a for a in actions if "remove" in a]
    assert len([a for a in actions if "add" in a]) == 2


def test_upsert_runs_its_source_once(spark, tmp_path):
    """The touched-file scan and the rewrite must see the same batch.
    This source yields a new key the first time it runs and an existing
    key after that: run once per job, the scan finds no file to rewrite
    while the rewrite inserts the existing key — a duplicate key."""
    marker = tmp_path / "source_ran"

    def key(_):
        if marker.exists():
            return 1
        marker.touch()
        return 100

    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "old", 1.0)]))
    key_udf = F.udf(key, "long").asNondeterministic()
    src = spark.range(1).select(
        key_udf("id").alias("id"), F.lit("new").alias("name"), F.lit(2.0).alias("score")
    )
    t.upsert(src, keys=["id"])
    assert _rows(t.read()) == [(1, "old", 1.0), (100, "new", 2.0)]


def test_cdf_pruned_upsert_feeds_matched_deletes_and_every_insert(spark, tmp_path):
    t = _merge_table(spark, tmp_path, props={"delta.enableChangeDataFeed": "true"})
    keys = {r[0] for r in MERGE_BATCH}
    before = _bag(t.read())
    v = t.upsert(_mdf(spark, MERGE_BATCH), keys=["k"])
    assert any("cdc" in a for a in _commit(t, v))
    feed = Counter(
        (r.k, r.p, r.v, r._change_type) for r in t.change_feed(v - 1).collect()
    )
    assert feed == Counter(
        [(*r, "delete") for r in before.elements() if r[0] in keys]
        + [(*r, "insert") for r in MERGE_BATCH]
    )
    assert _bag(t.read()) == _merge_reference(before, MERGE_BATCH, keys)


def test_upsert_constraint_violation_commits_and_leaves_nothing(spark, tmp_path):
    t = _merge_table(spark, tmp_path, props={"delta.constraints.nonneg": "v >= 0"})
    version = t.latest_version()
    with pytest.raises(DeltaProtocolError, match="nonneg"):
        t.upsert(_mdf(spark, [(1, "a", 5), (2, "a", -1)]), keys=["k"])
    assert t.latest_version() == version
    referenced = {
        unquote(a[kind]["path"])
        for v in range(version + 1)
        for a in _commit(t, v)
        for kind in ("add", "cdc")
        if kind in a
    }
    on_disk = {
        str(f.relative_to(t.root))
        for f in t.root.rglob("*")
        if f.is_file() and LOG_DIR not in f.relative_to(t.root).parts
    }
    assert on_disk <= referenced


def _full_snapshot_diff(t, v_from, v_to):
    """The endpoint diff over every row of both snapshots: the result
    ``changes`` must give, whichever files it reads."""
    before, after = t.read(version=v_from), t.read(version=v_to)
    for c in after.columns:
        if c not in before.columns:
            before = before.withColumn(c, F.lit(None).cast(dict(after.dtypes)[c]))
    before = before.select(*after.columns)
    return Counter(
        [(*r, "insert") for r in after.exceptAll(before).collect()]
        + [(*r, "delete") for r in before.exceptAll(after).collect()]
    )


def test_changes_reads_changed_files_and_equals_the_full_snapshot_diff(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    v_append = t.latest_version()
    v_upsert = t.upsert(_mdf(spark, MERGE_BATCH), keys=["k"])
    v_replace = t.replace(_mdf(spark, [(7, "f", 7)]), conditions=[("p", "f")])
    v_compact = t.compact()
    t.create_if_absent(
        MERGE_FIELDS + [Field(name="note", data_type="string")], ["p"], {}, {}
    )
    v_migrate = t.latest_version()
    assert v_migrate == v_compact + 1
    v_last = t.upsert(
        spark.createDataFrame(
            [(2, "a", 3, "x"), (300, "f", 3, "y")],
            "k long, p string, v long, note string",
        ),
        keys=["k"],
    )
    for v_from, v_to in [
        (v_append - 1, v_append),
        (v_append, v_upsert),
        (v_upsert, v_replace),
        (v_replace, v_compact),
        (v_compact, v_migrate),
        (v_migrate, v_last),
        (v_append, v_last),
        (0, v_last),
    ]:
        got = Counter(
            (*r[:-3], r._change_type) for r in t.changes(v_from, v_to).collect()
        )
        assert got == _full_snapshot_diff(t, v_from, v_to), (v_from, v_to)
    assert t.changes(v_replace, v_compact).count() == 0
    # the upsert left f's file live: its diff never reads it
    read = t.changes(v_append, v_upsert).inputFiles()
    assert read and not [f for f in read if "p=f" in f]


def test_upsert_loses_a_commit_race_and_reclaims_its_cdc_files(spark, tmp_path, monkeypatch):
    t = _merge_table(spark, tmp_path, props={"delta.enableChangeDataFeed": "true"})
    snapshot = t._snapshot

    def snapshot_then_race(*args, **kwargs):
        # another writer commits the next version right after ours reads
        snap = snapshot(*args, **kwargs)
        t._write_commit(snap.version + 1, [t._commit_info("WRITE", {"mode": "Append"})])
        return snap

    monkeypatch.setattr(t, "_snapshot", snapshot_then_race)
    with pytest.raises(DeltaProtocolError, match="concurrent commit raced"):
        t.upsert(_mdf(spark, MERGE_BATCH), keys=["k"])
    monkeypatch.undo()
    assert not list((t.root / CDC_DIR).rglob("*.parquet"))


# ---------------------------------------------------------------------------
# interop: logs written by external engines
# ---------------------------------------------------------------------------


def _write_external_table(root: Path, partitioned: bool = False) -> None:
    """Emulate a delta-rs-style table: parquet files + a v0 commit."""
    root.mkdir(parents=True)
    log = root / "_delta_log"
    log.mkdir()
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            ],
        }
    )
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE",
                        "engineInfo": "delta-rs.0.17.0"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "11111111-2222-3333-4444-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": ["cat"] if partitioned else [],
            "configuration": {},
            "createdTime": 1700000000000,
        }},
    ]
    if partitioned:
        # delta-rs flat-ish paths still hive-style, but ALSO test the
        # partitionValues-only contract with a non-hive file name
        data = {"x": [(1, 10.0), (2, 20.0)], "y": [(3, 30.0)]}
        for cat, rows in data.items():
            tbl = pa.table(
                {"id": pa.array([r[0] for r in rows], pa.int64()),
                 "v": pa.array([r[1] for r in rows], pa.float64())}
            )
            fname = f"part-{cat}-0000.snappy.parquet"  # flat layout
            pq.write_table(tbl, root / fname)
            actions.append({"add": {
                "path": fname,
                "partitionValues": {"cat": cat},
                "size": (root / fname).stat().st_size,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }})
    else:
        tbl = pa.table(
            {"id": pa.array([1, 2, 3], pa.int64()),
             "cat": pa.array(["x", "y", "x"]),
             "v": pa.array([1.5, 2.5, 3.5], pa.float64())}
        )
        fname = "part-00000-abc.snappy.parquet"
        pq.write_table(tbl, root / fname)
        actions.append({"add": {
            "path": fname,
            "partitionValues": {},
            "size": (root / fname).stat().st_size,
            "modificationTime": 1700000000000,
            "dataChange": True,
            "stats": json.dumps({"numRecords": 3}),
        }})
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )


def test_read_external_unpartitioned_table(spark, tmp_path):
    _write_external_table(tmp_path / "ext")
    df = delta_layer(spark).read(str(tmp_path / "ext"))
    assert dict(df.dtypes) == {"id": "bigint", "cat": "string", "v": "double"}
    assert _rows(df) == [(1, "x", 1.5), (2, "y", 2.5), (3, "x", 3.5)]


def test_read_external_partitioned_flat_layout(spark, tmp_path):
    # files NOT under col=value dirs: partitionValues map is authoritative
    _write_external_table(tmp_path / "extp", partitioned=True)
    df = delta_layer(spark).read(str(tmp_path / "extp"))
    assert set(df.columns) == {"id", "cat", "v"}
    assert _rows(df.select("id", "cat", "v")) == [
        (1, "x", 10.0), (2, "x", 20.0), (3, "y", 30.0)]


def test_external_remove_action_tombstones_file(spark, tmp_path):
    _write_external_table(tmp_path / "extr")
    root = tmp_path / "extr"
    # second parquet file + commit that adds it and removes the first
    tbl = pa.table({"id": pa.array([9], pa.int64()),
                    "cat": pa.array(["z"]),
                    "v": pa.array([9.9], pa.float64())})
    pq.write_table(tbl, root / "part-00001-def.snappy.parquet")
    actions = [
        {"commitInfo": {"timestamp": 1700000100000, "operation": "WRITE"}},
        {"remove": {"path": "part-00000-abc.snappy.parquet",
                    "deletionTimestamp": 1700000100000, "dataChange": True}},
        {"add": {"path": "part-00001-def.snappy.parquet",
                 "partitionValues": {},
                 "size": (root / "part-00001-def.snappy.parquet").stat().st_size,
                 "modificationTime": 1700000100000, "dataChange": True}},
    ]
    (root / "_delta_log" / f"{1:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions)
    )
    df = delta_layer(spark).read(str(root))
    assert _rows(df) == [(9, "z", 9.9)]
    # and the pre-remove snapshot is still reachable
    old = delta_layer(spark).read(str(root), version=0)
    assert len(old.collect()) == 3


def test_url_encoded_paths_are_decoded(spark, tmp_path):
    root = tmp_path / "enc"
    _write_external_table(root)
    # rename the data file to contain a space; re-point the log at the
    # URL-encoded form, as the spec requires
    log = root / "_delta_log" / f"{0:020d}.json"
    old = "part-00000-abc.snappy.parquet"
    new = "part 00000.snappy.parquet"
    (root / old).rename(root / new)
    lines = []
    for line in log.read_text().splitlines():
        a = json.loads(line)
        if "add" in a:
            a["add"]["path"] = "part%2000000.snappy.parquet"
        lines.append(json.dumps(a))
    log.write_text("\n".join(lines))
    df = delta_layer(spark).read(str(root))
    assert len(df.collect()) == 3


def test_unsupported_reader_features_rejected(spark, tmp_path):
    # deletionVectors became a SUPPORTED reader feature in r8
    # (tests/test_deletion_vectors.py) — a DV-feature table with no
    # actual DVs reads fine, while genuinely unknown features keep
    # failing loudly
    root = tmp_path / "dv"
    _write_external_table(root)
    log = root / "_delta_log" / f"{0:020d}.json"
    lines = []
    for line in log.read_text().splitlines():
        a = json.loads(line)
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        lines.append(json.dumps(a))
    log.write_text("\n".join(lines))
    assert delta_layer(spark).read(str(root)).count() == 3

    for line_idx, line in enumerate(lines):
        a = json.loads(line)
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = ["typeWidening"]
            lines[line_idx] = json.dumps(a)
    log.write_text("\n".join(lines))
    with pytest.raises(DeltaProtocolError, match="typeWidening"):
        delta_layer(spark).read(str(root))


def test_column_mapping_without_physical_names_rejected(spark, tmp_path):
    """r9 flips columnMapping reads from refused to SUPPORTED
    (tests/test_column_mapping.py covers the working paths); what must
    still fail loudly is a mode=name table whose schemaString carries
    no physicalName metadata — a spec violation where guessing would
    silently read the wrong columns."""
    root = tmp_path / "cm"
    _write_external_table(root)
    log = root / "_delta_log" / f"{0:020d}.json"
    lines = []
    for line in log.read_text().splitlines():
        a = json.loads(line)
        if "metaData" in a:
            a["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
        lines.append(json.dumps(a))
    log.write_text("\n".join(lines))
    with pytest.raises(DeltaProtocolError, match="physicalName"):
        delta_layer(spark).read(str(root))


def test_missing_commit_gap_is_an_error(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    t.append(_df(spark, [(2, "b", 2.0)]))
    (tmp_path / "tbl" / "_delta_log" / f"{1:020d}.json").unlink()
    with pytest.raises(DeltaProtocolError, match="missing commit"):
        t.read()


def test_ntz_schema_gets_timestamp_ntz_feature(spark, tmp_path):
    fields = [
        Field(name="id", data_type="int64", nullable=False),
        Field(name="ts", data_type="timestamp<microsecond>", nullable=True),
    ]
    t = DeltaProtocolTable(spark, str(tmp_path / "ntz"))
    t.create_if_absent(fields, [], {}, {})
    log = tmp_path / "ntz" / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in log.read_text().splitlines()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    struct = t._snapshot().schema()
    if any(f.dataType.simpleString() == "timestamp_ntz" for f in struct.fields):
        assert proto["minReaderVersion"] == 3
        assert "timestampNtz" in proto["readerFeatures"]
    else:  # timestamp<microsecond> mapped to tz-ful timestamp
        assert proto["minReaderVersion"] == 1


# ---------------------------------------------------------------------------
# layer dispatch + pipeline integration
# ---------------------------------------------------------------------------


def test_layer_prefers_protocol_for_new_tables(spark, tmp_path):
    layer = delta_layer(spark)
    t = layer.table(str(tmp_path / "new"))
    assert isinstance(t, DeltaProtocolTable)


@pytest.mark.parametrize("role", ["destination", "source"])
def test_layer_refuses_unconverted_legacy_tables(spark, tmp_path, role):
    """A pipeline pointed at a table still in the retired log format
    fails with the ``delta-upgrade`` hint and touches nothing: without
    the refusal a write would start an empty Delta table over it."""
    import shutil

    from aqueducts_spark import load_pipeline_str, run_pipeline

    loc = tmp_path / "legacy"
    shutil.copytree(Path(__file__).parent / "data" / "legacy_delta" / "loose", loc)
    before = sorted(p.relative_to(loc) for p in loc.rglob("*"))
    if role == "destination":
        yml = f"""
sources:
  - type: in_memory
    name: legacy_src_rows
stages:
  - name: legacy_rows
    query: SELECT CAST(9 AS BIGINT) AS k, 'z' AS v
destination:
  type: delta
  name: legacy_out
  location: {loc}
  write_mode: {{operation: append}}
"""
        spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("legacy_src_rows")
    else:
        yml = f"""
sources:
  - type: delta
    name: legacy_in
    location: {loc}
stages:
  - name: legacy_rows
    query: SELECT count(*) AS n FROM legacy_in
"""
    with pytest.raises(Exception, match=re.escape(f"aqueducts-spark delta-upgrade {loc}`")):
        run_pipeline(spark, load_pipeline_str(yml))
    assert sorted(p.relative_to(loc) for p in loc.rglob("*")) == before
    assert not (loc / "_delta_log").exists()
    for view in ("legacy_src_rows", "legacy_rows", "legacy_in"):
        spark.catalog.dropTempView(view)


def test_pipeline_delta_destination_writes_real_delta_log(spark, tmp_path):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    yml = f"""
version: "v2"
sources:
  - type: file
    name: orders
    format: {{ type: parquet }}
    location: /root/testdata/sf0.001/orders.parquet
stages:
  - - name: agg
      query: >
        SELECT o_orderstatus AS status, COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus
destination:
  type: delta
  name: out
  location: {tmp_path}/pipe_tbl
  write_mode: {{ operation: append }}
  schema:
    - name: status
      data_type: string
    - name: n
      data_type: int64
"""
    run_pipeline(spark, load_pipeline_str(yml, params={}))
    assert (tmp_path / "pipe_tbl" / "_delta_log" / f"{0:020d}.json").is_file()
    df = delta_layer(spark).read(str(tmp_path / "pipe_tbl"))
    assert df.count() == 3
    assert set(df.columns) == {"status", "n"}


def test_cdc_stream_merges_into_protocol_table(spark, tmp_path):
    """The foreachBatch CDC merge sink works against the real-Delta
    protocol table: each micro-batch upsert becomes one protocol commit
    readable by any Delta engine."""
    from aqueducts_spark.streaming import file_stream_source, merge_stream_into_table
    from aqueducts_spark.types import parse_fields

    table = DeltaProtocolTable(spark, str(tmp_path / "cdc_tbl"))
    table.create_if_absent(
        fields=parse_fields(
            [
                {"name": "user_id", "data_type": "int64", "nullable": False},
                {"name": "value", "data_type": "float64"},
            ]
        ),
        partition_columns=[], table_properties={}, metadata={},
    )
    src = tmp_path / "cdc_src"
    src.mkdir()
    schema = [
        {"name": "user_id", "data_type": "int64"},
        {"name": "value", "data_type": "float64"},
    ]
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = file_stream_source(spark, str(src), "parquet", parse_fields(schema))
    merge_stream_into_table(stream, table, ["user_id"], str(tmp_path / "ck"))

    spark.createDataFrame(
        [(1, 10.0), (3, 3.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = file_stream_source(spark, str(src), "parquet", parse_fields(schema))
    merge_stream_into_table(stream, table, ["user_id"], str(tmp_path / "ck"))

    assert sorted((r.user_id, r.value) for r in table.read().collect()) == [
        (1, 10.0), (2, 2.0), (3, 3.0),
    ]
    ops = [h["operation"] for h in table.history()]
    assert ops[0] == "CREATE TABLE" and "MERGE" in ops


def test_checkpoint_preserves_partition_values_and_configuration(spark, tmp_path):
    """Map-typed action fields (partitionValues, configuration) must
    survive the parquet checkpoint round trip — including a null
    partition value — with the log truncated so the checkpoint is the
    only source of state."""
    t = DeltaProtocolTable(spark, str(tmp_path / "cp_part"))
    t.create_if_absent(
        FIELDS, ["name"], {"delta.appendOnly": "false"}, {}
    )
    for i in range(10):  # versions 1..10 -> checkpoint at 10
        name = None if i == 3 else f"g{i % 2}"
        t.append(
            spark.createDataFrame([(i, name, float(i))], "id long, name string, score double")
        )
    log = tmp_path / "cp_part" / "_delta_log"
    assert (log / f"{10:020d}.checkpoint.parquet").is_file()
    expected = _rows(t.read())
    for v in range(10):
        (log / f"{v:020d}.json").unlink()

    t2 = DeltaProtocolTable(spark, str(tmp_path / "cp_part"))
    snap = t2._snapshot()
    assert snap.partition_columns() == ["name"]
    assert (snap.metadata.get("configuration") or {}).get("delta.appendOnly") == "false"
    for add in snap.files.values():
        assert isinstance(add.get("partitionValues"), dict)
    got = _rows(t2.read())
    assert got == expected
    assert len(got) == 10
    # the null-partition row survived with name IS NULL
    assert sum(1 for r in got if r[1] is None) == 1


# ---------------------------------------------------------------------------
# review-hardening regressions
# ---------------------------------------------------------------------------


def test_stray_tmp_commit_file_is_ignored(spark, tmp_path):
    """A writer that died mid-commit leaves only a hidden .tmp file —
    never a partial commit — and readers ignore it."""
    t = _make(spark, tmp_path)
    t.append(_df(spark, [(1, "a", 1.0)]))
    log = tmp_path / "tbl" / "_delta_log"
    (log / ".deadbeef.json.tmp").write_text('{"add": {"path": "half')
    t2 = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
    assert _rows(t2.read()) == [(1, "a", 1.0)]
    assert t2.latest_version() == 1


def test_future_reader_version_rejected(spark, tmp_path):
    root = tmp_path / "future"
    _write_external_table(root)
    log = root / "_delta_log" / f"{0:020d}.json"
    lines = []
    for line in log.read_text().splitlines():
        a = json.loads(line)
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 4, "minWriterVersion": 9}
        lines.append(json.dumps(a))
    log.write_text("\n".join(lines))
    with pytest.raises(DeltaProtocolError, match="minReaderVersion 4"):
        delta_layer(spark).read(str(root))


def test_checkpoint_carries_tombstones_and_txns(spark, tmp_path):
    """Spec compliance: checkpoints must preserve remove tombstones
    (external VACUUM) and txn watermarks (idempotent stream writers)."""
    t = _make(spark, tmp_path, name="cptx")
    t.append(_df(spark, [(1, "a", 1.0)]))
    t.compact()  # v2: removes v1's files
    # an external streaming writer records its transaction watermark
    log = tmp_path / "cptx" / "_delta_log"
    (log / f"{3:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [
                {"commitInfo": {"timestamp": 1700000000000, "operation": "STREAMING UPDATE"}},
                {"txn": {"appId": "stream-42", "version": 17, "lastUpdated": 1700000000000}},
            ]
        )
    )
    for v in range(4, 11):
        t.append(_df(spark, [(v, "b", float(v))]))
    cp = log / f"{10:020d}.checkpoint.parquet"
    assert cp.is_file()
    table = pq.read_table(cp).to_pylist()
    removes = [r["remove"] for r in table if r.get("remove")]
    txns = [r["txn"] for r in table if r.get("txn")]
    assert removes, "checkpoint must carry remove tombstones"
    assert any(x["appId"] == "stream-42" and x["version"] == 17 for x in txns)

    # and the replayed snapshot preserves the txn watermark
    for v in range(10):
        p = log / f"{v:020d}.json"
        if p.exists():
            p.unlink()
    t2 = DeltaProtocolTable(spark, str(tmp_path / "cptx"))
    snap = t2._snapshot()
    assert snap.txns.get("stream-42", {}).get("version") == 17


def test_vacuum_spares_staging_dirs(spark, tmp_path):
    t = _make(spark, tmp_path, name="vs")
    t.append(_df(spark, [(1, "a", 1.0)]))
    t.compact()
    stage = tmp_path / "vs" / ".stage-inflight"
    stage.mkdir()
    staged_file = stage / "part-0000.parquet"
    pa_table = pa.table({"id": pa.array([7], pa.int64())})
    pq.write_table(pa_table, staged_file)
    removed = t.vacuum(keep_versions=1)
    assert removed  # the compacted-away file went
    assert staged_file.is_file()  # the in-flight writer's file did not


def test_stats_omit_nullcount_when_statistics_missing(spark, tmp_path):
    from aqueducts_spark.delta.protocol import _file_stats

    p = tmp_path / "nostats.parquet"
    table = pa.table({"a": pa.array([1, None, 3], pa.int64())})
    pq.write_table(table, p, write_statistics=False)
    stats = json.loads(_file_stats(p))
    assert stats["numRecords"] == 3
    assert "a" not in stats.get("nullCount", {})
    assert "minValues" not in stats

    pq.write_table(table, p, write_statistics=True)
    stats = json.loads(_file_stats(p))
    assert stats["nullCount"]["a"] == 1
    assert stats["minValues"]["a"] == 1 and stats["maxValues"]["a"] == 3


def test_image_codec_name_validation(spark):
    from aqueducts_spark.operators.multimodal import decode_image

    df = spark.createDataFrame([(1, b"xx")], "doc_id long, payload binary")
    with pytest.raises(ValueError, match="codec"):
        decode_image(df, "payload", "doc_id", codec="jpegturbo")
    # name form works end to end
    out = decode_image(df, "payload", "doc_id", codec="fake").collect()
    assert len(out) == 1 and out[0].width > 0


def test_vacuum_retention_hours_semantics(spark, tmp_path):
    """retention_hours mode: unreferenced files inside the window stay
    (time travel still works); aging the tombstone past the window
    deletes them."""
    t = _make(spark, tmp_path, name="vr")
    v1 = t.append(_df(spark, [(1, "a", 1.0)]))
    t.compact()  # tombstones v1's files

    # fresh tombstones: nothing is old enough to delete
    assert t.vacuum(retention_hours=1.0) == []
    assert _rows(t.read(version=v1)) == [(1, "a", 1.0)]

    # age the tombstones by rewriting deletionTimestamp far in the past
    log = tmp_path / "vr" / "_delta_log"
    p = log / f"{2:020d}.json"
    lines = []
    for line in p.read_text().splitlines():
        a = json.loads(line)
        if "remove" in a:
            a["remove"]["deletionTimestamp"] = 1000  # 1970
        lines.append(json.dumps(a))
    p.write_text("\n".join(lines))

    removed = t.vacuum(retention_hours=1.0)
    assert removed
    # current snapshot still reads; the vacuumed version does not
    assert len(t.read().collect()) == 1
    with pytest.raises(Exception):
        t.read(version=v1).collect()


# ---------------------------------------------------------------------------
# writer-protocol enforcement (check_writable)
# ---------------------------------------------------------------------------


def test_append_only_table_refuses_upsert_and_replace(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "ao"))
    t.create_if_absent(FIELDS, [], {"delta.appendOnly": "true"}, {})
    t.append(_df(spark, [(1, "a", 1.0)]))  # appends stay allowed
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        t.upsert(_df(spark, [(1, "A", 9.0)]), keys=["id"])
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        t.replace(_df(spark, [(2, "b", 2.0)]), conditions=[("name", "a")])
    # compact (dataChange=false) and vacuum don't change table content
    t.compact(target_partitions=1)
    t.vacuum(keep_versions=1)
    assert _rows(t.read()) == [(1, "a", 1.0)]


def test_cdf_upsert_writes_cdc_actions_and_change_feed(spark, tmp_path):
    """CDF tables are fully writable: upsert stages _change_data/ files
    and commits cdc actions; change_feed uses them exclusively for that
    commit and derives add/remove-based rows for plain appends."""
    t = DeltaProtocolTable(spark, str(tmp_path / "cdf"))
    t.create_if_absent(FIELDS, [], {"delta.enableChangeDataFeed": "true"}, {})
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))  # v1
    t.upsert(_df(spark, [(2, "B", 20.0), (3, "c", 3.0)]), keys=["id"])  # v2

    log = tmp_path / "cdf" / "_delta_log"
    acts = [json.loads(l) for l in (log / f"{2:020d}.json").read_text().splitlines()]
    cdcs = [a["cdc"] for a in acts if "cdc" in a]
    assert cdcs and all(c["path"].startswith("_change_data/") for c in cdcs)
    assert all(c.get("dataChange") is False for c in cdcs)
    assert all("stats" not in c for c in cdcs)

    feed = t.change_feed(0)
    rows = {(r.id, r.name, r._change_type, r._commit_version) for r in feed.collect()}
    assert (1, "a", "insert", 1) in rows and (2, "b", "insert", 1) in rows
    assert (2, "b", "delete", 2) in rows  # matched target row deleted
    assert (2, "B", "insert", 2) in rows and (3, "c", "insert", 2) in rows
    assert (1, "a", "insert", 2) not in rows  # untouched rows absent from v2
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]


def test_cdf_noop_upsert_and_replace_commit_nothing(spark, tmp_path):
    """An empty-source upsert (and a replace whose predicate matches
    nothing, with empty input) changes no row — committing the full
    remove+add rewrite anyway, with zero cdc files, would make CDF
    readers derive a spurious delete+insert of EVERY row.  The rewrite
    short-circuits: no new version, no phantom change-feed rows."""
    t = DeltaProtocolTable(spark, str(tmp_path / "cdf_noop"))
    t.create_if_absent(FIELDS, [], {"delta.enableChangeDataFeed": "true"}, {})
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))  # v1

    empty = _df(spark, [(9, "x", 9.0)]).limit(0)
    v_up = t.upsert(empty, keys=["id"])
    v_rep = t.replace(empty, conditions=[("name", "zzz-no-such")])
    assert v_up == 1 and v_rep == 1  # no new commits
    assert t.latest_version() == 1

    feed = t.change_feed(0)
    rows = {(r.id, r.name, r._change_type, r._commit_version) for r in feed.collect()}
    assert rows == {(1, "a", "insert", 1), (2, "b", "insert", 1)}
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "b", 2.0)]
    # and no orphaned cdc files were left behind by the short-circuit
    cd = tmp_path / "cdf_noop" / "_change_data"
    assert not cd.exists() or not list(cd.rglob("*.parquet"))


def test_cdf_replace_partitioned_cdc_files_survive_vacuum(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "cdf3"))
    t.create_if_absent(
        FIELDS, ["name"], {"delta.enableChangeDataFeed": "true"}, {}
    )
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.replace(_df(spark, [(9, "a", 9.0)]), conditions=[("name", "a")])
    feed = t.change_feed(1)
    rows = {(r.id, r.name, r._change_type) for r in feed.collect()}
    assert rows == {(1, "a", "delete"), (9, "a", "insert")}
    cdc_files = list((tmp_path / "cdf3" / "_change_data").rglob("*.parquet"))
    assert cdc_files and all("name=" in str(p) for p in cdc_files)
    t.vacuum(keep_versions=1)
    assert all(p.is_file() for p in cdc_files)  # vacuum spares cdc files
    assert _rows(t.read()) == [(2, "b", 2.0), (9, "a", 9.0)]


def _edit_version0(root: Path, mutate) -> None:
    """Rewrite the table's 000...0.json through ``mutate(action_dict)``."""
    commit = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in commit.read_text().splitlines() if l.strip()]
    for a in actions:
        mutate(a)
    commit.write_text("\n".join(json.dumps(a) for a in actions))


def test_external_writer_version_gate(spark, tmp_path):
    """r10: versions 4-5 are accepted with their duties discharged
    (CDF writes implemented, column mapping supported, no generated
    columns declared on this table); version 6 (identity columns)
    stays refused."""
    t = _make(spark, tmp_path, name="wv5")
    t.append(_df(spark, [(1, "a", 1.0)]))

    def bump5(a):
        if "protocol" in a:
            a["protocol"]["minWriterVersion"] = 5

    _edit_version0(tmp_path / "wv5", bump5)
    t2 = DeltaProtocolTable(spark, str(tmp_path / "wv5"))
    assert _rows(t2.read()) == [(1, "a", 1.0)]
    t2.append(_df(spark, [(2, "b", 2.0)]))  # allowed since r10
    assert _rows(t2.read()) == [(1, "a", 1.0), (2, "b", 2.0)]

    def bump6(a):
        if "protocol" in a:
            a["protocol"]["minWriterVersion"] = 6

    _edit_version0(tmp_path / "wv5", bump6)
    t3 = DeltaProtocolTable(spark, str(tmp_path / "wv5"))
    with pytest.raises(DeltaProtocolError, match="minWriterVersion 6"):
        t3.append(_df(spark, [(3, "c", 3.0)]))


def test_writer_version_4_generated_columns_refused(spark, tmp_path):
    """A writer-4/5 table whose schema actually declares a
    delta.generationExpression is refused — this writer cannot compute
    generated columns."""
    t = _make(spark, tmp_path, name="wgen")
    t.append(_df(spark, [(1, "a", 1.0)]))

    def mutate(a):
        if "protocol" in a:
            a["protocol"]["minWriterVersion"] = 4
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][1].setdefault("metadata", {})[
                "delta.generationExpression"
            ] = "CAST(id AS STRING)"
            a["metaData"]["schemaString"] = json.dumps(sch)

    _edit_version0(tmp_path / "wgen", mutate)
    t2 = DeltaProtocolTable(spark, str(tmp_path / "wgen"))
    with pytest.raises(DeltaProtocolError, match="generated columns"):
        t2.append(_df(spark, [(2, "b", 2.0)]))


def test_unsupported_writer_feature_refused(spark, tmp_path):
    t = _make(spark, tmp_path, name="wf")
    t.append(_df(spark, [(1, "a", 1.0)]))

    def feat(a):
        if "protocol" in a:
            a["protocol"].update(
                {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["deletionVectors"],
                }
            )

    _edit_version0(tmp_path / "wf", feat)
    t2 = DeltaProtocolTable(spark, str(tmp_path / "wf"))
    with pytest.raises(DeltaProtocolError, match="deletionVectors"):
        t2.append(_df(spark, [(2, "b", 2.0)]))
    with pytest.raises(DeltaProtocolError, match="deletionVectors"):
        t2.vacuum(keep_versions=1)


def test_check_constraints_enforced_per_row(spark, tmp_path):
    """Writer protocol v2/v3: CHECK constraints are ENFORCED, not
    refused — valid rows commit, a violating row aborts the write
    before any commit.  NULL evaluations VIOLATE, matching delta-spark's
    CheckDeltaInvariant (not SQL-standard CHECK), so rows we commit are
    exactly the rows the owning engine would accept."""
    t = DeltaProtocolTable(spark, str(tmp_path / "ck"))
    t.create_if_absent(FIELDS, [], {"delta.constraints.posscore": "score >= 0"}, {})
    t.append(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    assert t.read().count() == 2
    with pytest.raises(DeltaProtocolError, match="posscore"):
        t.append(_df(spark, [(3, "c", -5.0)]))
    with pytest.raises(DeltaProtocolError, match="posscore"):
        t.append(_df(spark, [(4, "d", None)]))  # NULL violates (delta semantics)
    assert t.read().count() == 2  # nothing committed, no orphan visible
    names = sorted(p.name for p in (tmp_path / "ck" / "_delta_log").glob("*.json"))
    assert names == [f"{v:020d}.json" for v in range(2)]
    # the table is protocol-bound to checkConstraints so external
    # writers must enforce too
    acts = [
        json.loads(l)
        for l in (tmp_path / "ck" / "_delta_log" / f"{0:020d}.json")
        .read_text().splitlines()
    ]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert "checkConstraints" in proto["writerFeatures"]


def test_column_invariants_enforced_per_row(spark, tmp_path):
    t = _make(spark, tmp_path, name="inv")
    t.append(_df(spark, [(1, "a", 1.0)]))

    def add_invariant(a):
        if "metaData" in a:
            schema = json.loads(a["metaData"]["schemaString"])
            schema["fields"][0]["metadata"] = {
                "delta.invariants": '{"expression":{"expression":"id > 0"}}'
            }
            a["metaData"]["schemaString"] = json.dumps(schema)

    _edit_version0(tmp_path / "inv", add_invariant)
    t2 = DeltaProtocolTable(spark, str(tmp_path / "inv"))
    t2.append(_df(spark, [(2, "b", 2.0)]))  # satisfies id > 0
    assert t2.read().count() == 2
    with pytest.raises(DeltaProtocolError, match="invariant:id"):
        t2.append(_df(spark, [(-7, "bad", 0.0)]))
    assert t2.read().count() == 2


def test_writer_version_3_accepted_with_enforced_constraints(spark, tmp_path):
    """minWriterVersion 3 == checkConstraints support, which this
    writer provides by enforcement — such external tables are writable."""
    t = _make(spark, tmp_path, name="wv3")
    t.append(_df(spark, [(1, "a", 1.0)]))

    def bump(a):
        if "protocol" in a:
            a["protocol"]["minWriterVersion"] = 3
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.constraints.named": "name IS NOT NULL"
            }

    _edit_version0(tmp_path / "wv3", bump)
    t2 = DeltaProtocolTable(spark, str(tmp_path / "wv3"))
    t2.append(_df(spark, [(2, "b", 2.0)]))
    assert t2.read().count() == 2
    with pytest.raises(DeltaProtocolError, match="named"):
        t2.append(_df(spark, [(3, None, 3.0)]))


def test_own_ntz_feature_table_still_writable(spark, tmp_path):
    # regression: our own timestampNtz tables use minWriterVersion 7 +
    # writerFeatures [timestampNtz] and must keep passing check_writable
    fields = [
        Field(name="id", data_type="int64", nullable=False),
        Field(name="ts", data_type="timestamp<microsecond>", nullable=True),
    ]
    t = DeltaProtocolTable(spark, str(tmp_path / "ntzw"))
    t.create_if_absent(fields, [], {}, {})
    df = spark.sql("SELECT 1L AS id, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts")
    t.append(df)
    t.upsert(spark.sql("SELECT 1L AS id, TIMESTAMP_NTZ'2024-06-01 00:00:00' AS ts"), keys=["id"])
    assert t.read().count() == 1


def test_schema_migration_respects_writer_protocol(spark, tmp_path):
    """ADD COLUMNS is a metaData commit — the writer-protocol gate must
    refuse it on external tables this engine cannot write, BEFORE any
    commit lands."""
    t = _make(spark, tmp_path, name="mig")
    t.append(_df(spark, [(1, "a", 1.0)]))

    def bump(a):
        if "protocol" in a:
            # version 6: identity columns — a duty this engine never
            # discharges (4-5 are writable since r10)
            a["protocol"]["minWriterVersion"] = 6

    _edit_version0(tmp_path / "mig", bump)
    t2 = DeltaProtocolTable(spark, str(tmp_path / "mig"))
    extra = FIELDS + [Field(name="extra", data_type="string", nullable=True)]
    with pytest.raises(DeltaProtocolError, match="minWriterVersion 6"):
        t2.create_if_absent(extra, [], {}, {})
    names = sorted(p.name for p in (tmp_path / "mig" / "_delta_log").glob("*.json"))
    assert names == [f"{v:020d}.json" for v in range(2)]  # no new commit


def test_cdf_table_protocol_binds_change_data_feed_feature(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "cdfp"))
    t.create_if_absent(FIELDS, [], {"delta.enableChangeDataFeed": "true"}, {})
    acts = [
        json.loads(l)
        for l in (tmp_path / "cdfp" / "_delta_log" / f"{0:020d}.json")
        .read_text().splitlines()
    ]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert "changeDataFeed" in proto["writerFeatures"]
    # still readable+writable by ourselves
    t.append(_df(spark, [(1, "a", 1.0)]))
    assert t.read().count() == 1


def test_nested_invariants_enforced_or_refused(spark, tmp_path):
    """Invariants on nested struct fields are enforced via their
    qualified-path expression; invariants buried under array/map
    elements (not expressible as a row predicate) refuse the write."""
    from pyspark.sql import types as T

    t = DeltaProtocolTable(spark, str(tmp_path / "nestinv"))
    fields = [
        Field(name="id", data_type="int64", nullable=False),
        Field(name="name", data_type="string", nullable=True),
        Field(name="score", data_type="double", nullable=True),
    ]
    t.create_if_absent(fields, [], {}, {})
    t.append(_df(spark, [(1, "a", 1.0)]))

    def nest(a):
        if "metaData" in a:
            schema = json.loads(a["metaData"]["schemaString"])
            # replace 'score' with a struct carrying a nested invariant
            schema["fields"][2] = {
                "name": "meta",
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "score",
                            "type": "double",
                            "nullable": True,
                            "metadata": {
                                "delta.invariants":
                                '{"expression":{"expression":"meta.score > 0"}}'
                            },
                        }
                    ],
                },
                "nullable": True,
                "metadata": {},
            }
            a["metaData"]["schemaString"] = json.dumps(schema)

    _edit_version0(tmp_path / "nestinv", nest)
    # data already on disk has old shape; use a fresh handle and write
    # conforming nested rows
    t2 = DeltaProtocolTable(spark, str(tmp_path / "nestinv"))
    good = spark.createDataFrame(
        [(2, "b", (3.0,))], "id long, name string, meta struct<score: double>"
    )
    t2.append(good)
    bad = spark.createDataFrame(
        [(3, "c", (-1.0,))], "id long, name string, meta struct<score: double>"
    )
    with pytest.raises(DeltaProtocolError, match="invariant:meta.score"):
        t2.append(bad)
