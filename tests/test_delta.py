"""Delta-layer tests mirroring the reference's delta integration tests
(aqueducts/delta/tests/integration.rs: append :115-187, upsert :190-272,
replace :275-349) on the Delta-protocol table."""

import pytest

from aqueducts_spark import load_pipeline_str, run_pipeline
from aqueducts_spark.delta.protocol import DeltaProtocolTable


@pytest.fixture()
def table(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
    t.create_if_absent(
        fields=_fields(), partition_columns=[], table_properties={}, metadata={}
    )
    return t


def _fields():
    from aqueducts_spark.types import parse_fields

    return parse_fields(
        [
            {"name": "col_1", "data_type": "string", "nullable": False},
            {"name": "col_2", "data_type": "int32", "nullable": False},
        ]
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, ["col_1", "col_2"])


def _rows(t, **kw):
    return sorted((r.col_1, r.col_2) for r in t.read(**kw).collect())


def test_append_and_time_travel(spark, table):
    table.append(_df(spark, [("a", 1), ("b", 2)]))
    table.append(_df(spark, [("c", 3)]))
    assert _rows(table) == [("a", 1), ("b", 2), ("c", 3)]
    # version 1 was the first append (0 = create)
    assert _rows(table, version=1) == [("a", 1), ("b", 2)]


def test_upsert(spark, table):
    table.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    table.upsert(_df(spark, [("a", 100), ("d", 4)]), keys=["col_1"])
    assert _rows(table) == [("a", 100), ("b", 2), ("c", 3), ("d", 4)]


def test_replace(spark, table):
    table.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    table.replace(_df(spark, [("a", 10)]), conditions=[("col_1", "a")])
    assert _rows(table) == [("a", 10), ("b", 2), ("c", 3)]


def test_full_overwrite_on_empty_conditions(spark, table):
    table.append(_df(spark, [("a", 1), ("b", 2)]))
    table.replace(_df(spark, [("z", 9)]), conditions=[])
    assert _rows(table) == [("z", 9)]


def test_schema_cast_preamble(spark, table):
    # int64 + strings get cast to declared (string, int32)
    df = spark.createDataFrame([(1, "7")], ["col_1", "col_2"])
    table.append(df)
    assert _rows(table) == [("1", 7)]
    dtypes = dict(table.read().dtypes)
    assert dtypes == {"col_1": "string", "col_2": "int"}


def test_missing_column_rejected(spark, table):
    from aqueducts_spark.delta.table import DeltaTableError

    with pytest.raises(DeltaTableError, match="missing columns"):
        table.append(spark.createDataFrame([("a",)], ["col_1"]))


def test_upsert_with_array_keys_set_equality(spark, tmp_path):
    """List-typed merge keys compare as sets (reference delta/src/lib.rs:266-278)."""
    t = DeltaProtocolTable(spark, str(tmp_path / "arr_tbl"))
    t.create_if_absent([], [], {}, {})
    df1 = spark.createDataFrame([(["x", "y"], 1), (["q"], 2)], ["k", "v"])
    t.append(df1)
    # ["y","x"] must match ["x","y"] as a set -> update, not insert
    df2 = spark.createDataFrame([(["y", "x"], 99), (["new"], 3)], ["k", "v"])
    t.upsert(df2, keys=["k"])
    got = sorted((tuple(r.k), r.v) for r in t.read().collect())
    assert got == [(("new",), 3), (("q",), 2), (("y", "x"), 99)]


def test_delta_pipeline_upsert_e2e(spark, tmp_path):
    """YAML-driven delta upsert, like aqueduct_pipeline_delta_upsert.yml."""
    csv1 = tmp_path / "example_1.csv"
    csv1.write_text(
        "date,country,a,b\n2023-05-07,AT,1,1.5\n2023-05-07,DE,2,2.5\n"
    )
    loc = tmp_path / "delta_out"
    yml_template = f"""
sources:
  - type: file
    name: example
    format:
      type: csv
    location: {csv1}
stages:
  - name: agg
    query: >
      SELECT date, country, sum(a) AS sum_1, sum(b) AS sum_2
      FROM example GROUP BY date, country
destination:
  type: delta
  name: out
  location: {loc}
  write_mode:
    operation: upsert
    params: [date, country]
  partition_cols: [date]
  schema:
    - name: date
      data_type: date32
    - name: country
      data_type: string
    - name: sum_1
      data_type: int64
    - name: sum_2
      data_type: float64
"""
    run_pipeline(spark, load_pipeline_str(yml_template))
    spark.catalog.dropTempView("agg")
    spark.catalog.dropTempView("example")
    # second run with updated values for AT upserts
    csv1.write_text("date,country,a,b\n2023-05-07,AT,10,1.5\n")
    run_pipeline(spark, load_pipeline_str(yml_template))
    from aqueducts_spark.delta.table import delta_layer

    t = delta_layer(spark).table(str(loc))
    rows = {(str(r.date), r.country): (r.sum_1, r.sum_2) for r in t.read().collect()}
    assert rows[("2023-05-07", "AT")][0] == 10
    assert rows[("2023-05-07", "DE")][0] == 2
    spark.catalog.dropTempView("agg")
    spark.catalog.dropTempView("example")


def test_schema_migration_adds_columns(spark, tmp_path):
    """create_if_absent on an existing table merges NEW columns
    (reference delta/src/lib.rs:138-140: additive migrations only);
    rows written before the migration read back with nulls."""
    from aqueducts_spark.delta.table import DeltaTableError
    from aqueducts_spark.types import parse_fields

    loc = str(tmp_path / "mig")
    t = DeltaProtocolTable(spark, loc)
    v1 = parse_fields(
        [{"name": "id", "data_type": "int64"}, {"name": "v", "data_type": "string"}]
    )
    t.create_if_absent(v1, [], {}, {})
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))

    v2 = v1 + parse_fields([{"name": "extra", "data_type": "float64"}])
    t.create_if_absent(v2, [], {}, {})  # migrate, not error
    assert t.read().dtypes == [("id", "bigint"), ("v", "string"), ("extra", "double")]
    assert t.history()[-1]["operation"] == "ADD COLUMNS"

    t.append(
        spark.createDataFrame([(2, "b", 1.5)], ["id", "v", "extra"])
    )
    rows = {r.id: r for r in t.read().collect()}
    assert rows[1].extra is None and rows[2].extra == 1.5

    # type changes are rejected
    bad = parse_fields(
        [{"name": "id", "data_type": "string"}, {"name": "v", "data_type": "string"}]
    )
    import pytest as _pytest

    with _pytest.raises(DeltaTableError, match="cannot change column"):
        t.create_if_absent(bad, [], {}, {})


def test_compact_collapses_dirs_and_preserves_time_travel(spark, tmp_path):
    from aqueducts_spark.types import Field

    loc = str(tmp_path / "tbl_compact")
    t = DeltaProtocolTable(spark, loc)
    t.create_if_absent(
        [Field(name="id", data_type="long"), Field(name="v", data_type="string")],
        [], {}, {},
    )
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], ["id", "v"]).coalesce(1))
    assert len(t.read().inputFiles()) == 4

    v = t.compact(target_partitions=1)
    assert len(t.read().inputFiles()) == 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3]
    # time travel to before the compaction still reads the old layout
    assert len(t.read(version=v - 1).inputFiles()) == 4
    assert sorted(r.id for r in t.read(version=v - 1).collect()) == [0, 1, 2, 3]
    assert t.history()[-1]["operation"] == "OPTIMIZE"


def test_vacuum_drops_unreferenced_dirs(spark, tmp_path):
    """Vacuum deletes the files no kept snapshot references, then the
    partition directories it emptied."""
    from aqueducts_spark.types import Field

    loc = tmp_path / "tbl_vacuum"
    t = DeltaProtocolTable(spark, str(loc))
    t.create_if_absent(
        [Field(name="id", data_type="long"), Field(name="p", data_type="string")],
        ["p"], {}, {},
    )
    for i, p in enumerate("aab"):
        t.append(spark.createDataFrame([(i, p)], ["id", "p"]).coalesce(1))
    pre_compact_version = t.history()[-1]["version"]
    t.compact(target_partitions=1)
    t.replace(spark.createDataFrame([(9, "c")], ["id", "p"]), [("p", "a")])
    assert sorted(d.name for d in loc.glob("p=*")) == ["p=a", "p=b", "p=c"]

    removed = t.vacuum(keep_versions=1)
    # the three appended files and the compacted p=a and p=b files
    assert len(removed) == 5
    assert sorted(d.name for d in loc.glob("p=*")) == ["p=b", "p=c"]
    # latest snapshot unaffected
    assert sorted((r.id, r.p) for r in t.read().collect()) == [(2, "b"), (9, "c")]
    # vacuumed versions are no longer readable (Delta VACUUM semantics)
    with pytest.raises(Exception):
        t.read(version=pre_compact_version).collect()
    # idempotent
    assert t.vacuum(keep_versions=1) == []


def test_changes_between_versions(spark, table):
    table.append(_df(spark, [("a", 1), ("b", 2)]))            # v1
    table.upsert(_df(spark, [("a", 100), ("c", 3)]), keys=["col_1"])  # v2
    ch = table.changes(1, 2)
    got = sorted(
        (r.col_1, r.col_2, r._change_type) for r in ch.collect()
    )
    # update of "a" = delete old + insert new; "c" is a pure insert
    assert got == [
        ("a", 1, "delete"),
        ("a", 100, "insert"),
        ("c", 3, "insert"),
    ]
    assert ch.collect()[0]._from_version == 1
    assert ch.collect()[0]._to_version == 2


def test_changes_default_to_latest_and_duplicates(spark, table):
    table.append(_df(spark, [("x", 1), ("x", 1)]))  # v1: duplicate rows
    table.append(_df(spark, [("x", 1)]))            # v2: one more copy
    ch = table.changes(1)
    got = [(r.col_1, r.col_2, r._change_type) for r in ch.collect()]
    # multiset diff: exactly ONE extra copy surfaces as the insert
    assert got == [("x", 1, "insert")]


def test_changes_across_schema_migration(spark, table):
    table.append(_df(spark, [("a", 1)]))  # v1
    from aqueducts_spark.types import parse_fields

    table.create_if_absent(
        fields=parse_fields(
            [
                {"name": "col_1", "data_type": "string", "nullable": False},
                {"name": "col_2", "data_type": "int32", "nullable": False},
                {"name": "col_3", "data_type": "string"},
            ]
        ),
        partition_columns=[],
        table_properties={},
        metadata={},
    )  # migrate
    wide = spark.createDataFrame([("b", 2, "new")], ["col_1", "col_2", "col_3"])
    table.append(wide)
    ch = table.changes(1)
    got = sorted((r.col_1, r.col_2, r.col_3, r._change_type) for r in ch.collect())
    assert got == [("b", 2, "new", "insert")]


def test_changes_source_in_pipeline(spark, table, tmp_path):
    """Declarative CDF: a delta source with changes_from feeds a SQL
    stage that consumes only the diff."""
    table.append(_df(spark, [("a", 1), ("b", 2)]))            # v1
    table.upsert(_df(spark, [("a", 100), ("c", 3)]), keys=["col_1"])  # v2
    yml = f"""
version: "v2"
sources:
  - type: delta
    name: tbl_changes
    location: {table.root}
    changes_from: 1
stages:
  - - name: change_counts
      query: >
        SELECT _change_type, COUNT(*) AS n
        FROM tbl_changes GROUP BY _change_type
destination:
  type: file
  name: out
  format: {{type: parquet}}
  location: {tmp_path}/changes_out
"""
    run_pipeline(spark, load_pipeline_str(yml))
    got = {
        r._change_type: r.n
        for r in spark.read.parquet(f"{tmp_path}/changes_out").collect()
    }
    assert got == {"insert": 2, "delete": 1}
    spark.catalog.dropTempView("tbl_changes")
    spark.catalog.dropTempView("change_counts")


def test_changes_source_rejects_snapshot_pin(spark, table):
    from aqueducts_spark.sources.register import SourceError, register_source
    from aqueducts_spark.config.model import DeltaSource

    src = DeltaSource(
        name="x", location=str(table.root), changes_from=1, version=2
    )
    with pytest.raises(SourceError, match="mutually exclusive"):
        register_source(spark, src)
    with pytest.raises(SourceError, match="changes_to requires"):
        register_source(
            spark,
            DeltaSource(name="x", location=str(table.root), changes_to=2),
        )


def test_read_version_beyond_latest_raises(spark, table):
    from aqueducts_spark.delta.table import DeltaTableError

    table.append(_df(spark, [("a", 1)]))
    with pytest.raises(DeltaTableError, match="not found"):
        table.read(version=99)


def test_upsert_duplicate_source_keys_follow_reference_semantics(spark, table):
    """Reference parity (its own examples rely on it): a duplicate-key
    source replaces each matching target row with ALL of that key's
    source rows — delete-matching + insert-all."""
    table.append(_df(spark, [("a", 1), ("b", 9)]))
    table.upsert(_df(spark, [("a", 2), ("a", 3)]), ["col_1"])
    assert _rows(table) == [("a", 2), ("a", 3), ("b", 9)]


def test_empty_snapshot_time_travel_uses_schema_as_of_version(spark, table):
    """create v (empty) -> schema migration adds a column: reading the
    pre-migration empty snapshot must NOT show the migrated column."""
    from aqueducts_spark.types import parse_fields

    v_created = table.history()[-1]["version"]
    wider = _fields() + parse_fields(
        [{"name": "extra", "data_type": "string", "nullable": True}]
    )
    table.create_if_absent(
        fields=wider, partition_columns=[], table_properties={}, metadata={}
    )
    assert "extra" in table.read().columns
    assert "extra" not in table.read(version=v_created).columns


def test_vacuum_counts_only_data_snapshots(spark, tmp_path):
    """Commits that change no file — an upgraded table's VACUUM END and
    ADD COLUMNS commits — must not crowd data snapshots out of the
    keep_versions retention window."""
    import shutil
    from pathlib import Path

    from aqueducts_spark.delta.upgrade import upgrade

    loc = tmp_path / "events"
    shutil.copytree(Path(__file__).parent / "data" / "legacy_delta" / "events", loc)
    upgrade(spark, str(loc))
    t = DeltaProtocolTable(spark, str(loc))
    # versions 3..9: upsert, compact, VACUUM END, ADD COLUMNS, append,
    # upsert, replace — 4, 5 and 6 hold the same files
    assert [e["operation"] for e in t.history()][2:4] == ["VACUUM END", "ADD COLUMNS"]
    rows_v3 = t.read(version=3).count()
    # the five newest data snapshots are versions 9, 8, 7, 6 (= 5 = 4), 3
    assert t.vacuum(keep_versions=5) == []
    assert t.read(version=3).count() == rows_v3
    assert t.vacuum(keep_versions=4)  # now the files of version 3 go
    with pytest.raises(Exception):
        t.read(version=3).collect()


def test_time_travel_naive_timestamp_is_utc(spark, tmp_path):
    """Zone-less time-travel timestamps resolve as UTC (matching the
    native timestampAsOf path), not the OS-local timezone."""
    from aqueducts_spark.delta.table import parse_travel_timestamp

    assert parse_travel_timestamp("2024-01-01T00:00:00") == parse_travel_timestamp(
        "2024-01-01T00:00:00Z"
    )
    assert (
        parse_travel_timestamp("2024-01-01T02:00:00+02:00")
        == parse_travel_timestamp("2024-01-01T00:00:00")
    )
