"""``delta-upgrade``: tables in the retired ``_aqueducts_delta_log``
format convert to a Delta log that reads back what the old reader
returned, version for version.

The fixture (tests/data/legacy_delta, see its PROVENANCE.md) was written
by the old writer; ``expected.json`` holds, per version, the old
reader's row count and sorted-row sha256, or the error it raised.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import re
import shutil
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aqueducts_spark.delta.protocol import DeltaProtocolError, DeltaProtocolTable
from aqueducts_spark.delta.table import DeltaTableError, delta_layer
from aqueducts_spark.delta.upgrade import upgrade

FIXTURE = Path(__file__).parent / "data" / "legacy_delta"
EXPECTED = json.loads((FIXTURE / "expected.json").read_text())


def _digest(df) -> dict:
    """Row count, sorted-row sha256 and columns, by column name."""
    types = {f.name: f.dataType for f in df.schema.fields}
    cols = sorted(types)
    rows = df.select(*[F.col(c).cast(types[c]).alias(c) for c in cols]).collect()
    lines = sorted(json.dumps([r[c] for c in cols]) for r in rows)
    return {
        "rows": len(lines),
        "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest(),
        "columns": [[c, types[c].simpleString()] for c in cols],
    }


def _converted(spark, tmp_path, name) -> DeltaProtocolTable:
    loc = tmp_path / name
    shutil.copytree(FIXTURE / name, loc)
    upgrade(spark, str(loc))
    return DeltaProtocolTable(spark, str(loc))


def _bag(df, cols):
    """Rows as a multiset of ``cols`` tuples; a column ``df`` lacks is NULL."""
    return Counter(tuple(r.asDict().get(c) for c in cols) for r in df.collect())


def _iso(ts: float) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).isoformat()


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    return _converted(spark, tmp_path_factory.mktemp("upgrade"), "events")


def test_every_surviving_version_reads_back_as_the_legacy_reader_did(events):
    expected = EXPECTED["events"]
    # the legacy vacuum at version 5 emptied versions 1 and 2
    assert [e["version"] for e in expected if "error" in e] == [1, 2]
    for e in expected:
        if e["version"] > 2:
            assert _digest(events.read(version=e["version"])) == {
                k: e[k] for k in ("rows", "sha256", "columns")
            }, e
    # the log starts at a checkpoint of version 3, the oldest version
    # from which every later version still has its data
    log = sorted(p.name for p in events.log_dir.iterdir())
    assert log[:2] == [f"{3:020d}.checkpoint.parquet", f"{3:020d}.json"]
    ops = [(h["version"], h["operation"]) for h in events.history()]
    assert ops == [
        (3, "MERGE"), (4, "OPTIMIZE"), (5, "VACUUM END"), (6, "ADD COLUMNS"),
        (7, "WRITE"), (8, "MERGE"), (9, "WRITE"),
    ]


@pytest.mark.parametrize("version", [0, 1, 2])
def test_versions_below_the_vacuum_line_raise(events, version):
    with pytest.raises(
        DeltaProtocolError,
        match=f"version {version} predates version 3, the oldest the log .* "
        "can rebuild: history before it was truncated",
    ):
        events.read(version=version)


def test_a_gap_above_the_checkpoint_names_the_missing_commits(spark, tmp_path):
    t = _converted(spark, tmp_path, "events")
    (t.log_dir / f"{5:020d}.json").unlink()
    assert _digest(t.read(version=4))["sha256"] == EXPECTED["events"][4]["sha256"]
    with pytest.raises(DeltaProtocolError, match=r"missing commit versions \[5\]"):
        t.read(version=6)


def test_vacuum_reclaims_the_dead_legacy_data_dirs(spark, tmp_path):
    t = _converted(spark, tmp_path, "events")
    live = set(t._snapshot().files)
    dead = next(
        p for p in sorted(t.root.glob("data-*/*/*.parquet"))
        if str(p.relative_to(t.root)) not in live
    )
    dead.unlink()  # as an older vacuum did: its .crc sidecar stays behind
    t.vacuum(keep_versions=1)
    logs = {"_delta_log", "_aqueducts_delta_log"}
    data_dirs = [
        d for d in t.root.rglob("*")
        if d.is_dir() and d.relative_to(t.root).parts[0] not in logs
    ]
    # every dir left holds a live file: the dead data-<uuid> dirs went,
    # with their _SUCCESS markers and .crc sidecars
    assert data_dirs and all(any(d.rglob("*.parquet")) for d in data_dirs)
    assert len([d for d in t.root.iterdir() if d.name.startswith("data-")]) < 5
    assert not [
        p for p in t.root.rglob(".*.crc") if not p.with_name(p.name[1:-4]).exists()
    ]
    legacy = sorted((FIXTURE / "events" / "_aqueducts_delta_log").iterdir())
    for p in legacy:
        assert (t.root / "_aqueducts_delta_log" / p.name).read_bytes() == p.read_bytes()
    e = EXPECTED["events"][-1]
    assert _digest(t.read()) == {k: e[k] for k in ("rows", "sha256", "columns")}


def test_schemaless_table_takes_the_schema_of_its_data(spark, tmp_path):
    t = _converted(spark, tmp_path, "loose")
    for e in EXPECTED["loose"][1:]:
        assert _digest(t.read(version=e["version"])) == {
            k: e[k] for k in ("rows", "sha256", "columns")
        }
    # the legacy reader refused the schemaless empty version 0; the
    # converted one reads it empty under the data's schema
    assert EXPECTED["loose"][0]["error"] == "DeltaTableError"
    v0 = t.read(version=0)
    assert v0.count() == 0 and v0.dtypes == [("k", "bigint"), ("v", "string")]


def test_timestamp_travel_selects_the_legacy_versions(events):
    expected = EXPECTED["events"]
    for e, nxt in zip(expected, expected[1:] + [None]):
        when = e["timestamp"] + (
            (nxt["timestamp"] - e["timestamp"]) / 2 if nxt else 60.0
        )
        if e["version"] < 3:
            with pytest.raises(DeltaTableError):
                events.read(timestamp=_iso(when)).collect()
        else:
            assert _digest(events.read(timestamp=_iso(when)))["sha256"] == e["sha256"]


@pytest.mark.parametrize("v_from,v_to", [(3, 4), (3, 9), (4, 7), (6, 8), (8, 9)])
def test_changes_between_converted_versions(events, v_from, v_to):
    cols = sorted(events.read().columns)
    before = _bag(events.read(version=v_from), cols)
    after = _bag(events.read(version=v_to), cols)
    got = Counter(
        (r._change_type, tuple(r[c] for c in cols))
        for r in events.changes(v_from, v_to).collect()
    )
    want = Counter({("insert", k): n for k, n in (after - before).items()})
    want.update({("delete", k): n for k, n in (before - after).items()})
    assert got == want
    if v_to == 4:  # OPTIMIZE
        assert not got


def test_change_feed_of_the_first_commit_refuses_its_vacuumed_deletes(events):
    # commit 3 removed whole dirs a legacy vacuum deleted since
    with pytest.raises(DeltaProtocolError, match="missing file"):
        events.change_feed(2, 3).collect()
    feed = events.change_feed(8, 9)
    assert {r._change_type for r in feed.collect()} == {"insert", "delete"}


def test_conversion_keeps_the_legacy_log_and_refuses_a_second_run(spark, tmp_path):
    t = _converted(spark, tmp_path, "events")
    legacy = sorted((FIXTURE / "events" / "_aqueducts_delta_log").iterdir())
    for p in legacy:
        assert (t.root / "_aqueducts_delta_log" / p.name).read_bytes() == p.read_bytes()
    with pytest.raises(DeltaTableError, match="already has a _delta_log"):
        upgrade(spark, str(t.root))
    assert not [p for p in t.root.iterdir() if p.name.startswith(".")]
    # deleting the Delta log rolls the conversion back
    shutil.rmtree(t.log_dir)
    with pytest.raises(DeltaTableError, match="delta-upgrade"):
        delta_layer(spark).table(str(t.root))


def test_a_failed_conversion_leaves_no_log(spark, tmp_path, monkeypatch):
    loc = tmp_path / "events"
    shutil.copytree(FIXTURE / "events", loc)
    real = DeltaProtocolTable._write_commit

    def failing(self, version, actions):
        if version == 7:
            raise OSError("disk full")
        return real(self, version, actions)

    monkeypatch.setattr(DeltaProtocolTable, "_write_commit", failing)
    with pytest.raises(OSError, match="disk full"):
        upgrade(spark, str(loc))
    assert not (loc / "_delta_log").exists()
    assert not [p for p in loc.iterdir() if p.name.startswith(".")]


def test_converted_table_takes_an_upsert_and_lists_its_history(
    spark, tmp_path, monkeypatch, capsys
):
    from aqueducts_spark import cli

    loc = tmp_path / "events"
    shutil.copytree(FIXTURE / "events", loc)
    monkeypatch.setattr("aqueducts_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    assert cli.main(["delta-upgrade", str(loc)]) == 0
    out = capsys.readouterr().out
    assert "Delta log versions 3..9" in out and "versions below 3" in out
    assert cli.main(["delta-upgrade", str(loc)]) == 1
    assert "already has a _delta_log" in capsys.readouterr().err

    t = delta_layer(spark).table(str(loc))
    before = {r.id: r for r in t.read().collect()}
    batch = spark.createDataFrame(
        [(7, "apac", 70.0, "upd"), (12, "us", 12.0, "ins")],
        "id long, region string, amount double, note string",
    )
    assert t.upsert(batch, keys=["id"]) == 10
    after = {r.id: r for r in t.read().collect()}
    assert set(after) == set(before) | {12}
    assert (after[7].amount, after[7].note) == (70.0, "upd")
    assert all(after[k] == before[k] for k in before if k != 7)

    assert cli.main(["history", str(loc)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [re.match(r"v\s*(\d+)", ln).group(1) for ln in lines] == [
        str(v) for v in range(3, 11)
    ]
    assert "VACUUM END" in lines[2] and "MERGE" in lines[-1]
