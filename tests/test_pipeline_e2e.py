"""End-to-end pipeline tests, mirroring the reference's integration
tests (aqueducts/core/tests/integration.rs, delta/tests/integration.rs)."""

import textwrap

import pytest

from aqueducts_spark import CollectingTracker, load_pipeline_str, run_pipeline


@pytest.fixture()
def test_csv(tmp_path):
    """F1 fixture (FIXTURES.md): id,name,value,active."""
    p = tmp_path / "test_data.csv"
    p.write_text(
        "id,name,value,active\n"
        "1,Alice,100.5,true\n"
        "2,Bob,200.0,false\n"
        "3,Charlie,300.75,true\n"
        "4,Diana,150.25,false\n"
        "5,Eve,250.0,true\n"
    )
    return p


def test_csv_to_memory(spark, test_csv):
    yml = f"""
sources:
  - type: file
    name: test_data
    format:
      type: csv
    location: {test_csv}
stages:
  - name: transformed
    query: SELECT id, name, value * 2 AS doubled_value, active FROM test_data
destination:
  type: in_memory
  name: transformed_result
"""
    result = run_pipeline(spark, load_pipeline_str(yml))
    rows = spark.table("transformed_result").orderBy("id").collect()
    assert len(rows) == 5
    assert rows[0].doubled_value == pytest.approx(201.0)
    assert result.result is not None
    spark.catalog.dropTempView("transformed_result")
    spark.catalog.dropTempView("transformed")
    spark.catalog.dropTempView("test_data")


def test_filter_to_single_csv(spark, test_csv, tmp_path):
    out = tmp_path / "active.csv"
    yml = f"""
sources:
  - type: file
    name: test_data
    format:
      type: csv
    location: {test_csv}
stages:
  - name: filtered
    query: SELECT * FROM test_data WHERE active = true
destination:
  type: file
  name: out
  format:
    type: csv
  single_file: true
  location: {out}
"""
    run_pipeline(spark, load_pipeline_str(yml))
    assert out.is_file()
    text = out.read_text()
    assert "Alice" in text and "Bob" not in text
    assert len(text.strip().splitlines()) == 4  # header + 3 active rows
    spark.catalog.dropTempView("filtered")
    spark.catalog.dropTempView("test_data")


def test_no_destination_leaves_last_stage_queryable(spark, test_csv):
    yml = f"""
sources:
  - type: file
    name: test_data
    format:
      type: csv
    location: {test_csv}
stages:
  - name: ordered
    query: SELECT * FROM test_data ORDER BY id
"""
    result = run_pipeline(spark, load_pipeline_str(yml))
    assert result.result.count() == 5
    assert spark.table("ordered").count() == 5
    spark.catalog.dropTempView("ordered")
    spark.catalog.dropTempView("test_data")


def test_parallel_groups_and_ttl(spark, test_csv):
    yml = f"""
sources:
  - type: file
    name: test_data
    format:
      type: csv
    location: {test_csv}
stages:
  - - name: evens
      query: SELECT * FROM test_data WHERE id % 2 = 0
    - name: odds
      query: SELECT * FROM test_data WHERE id % 2 = 1
  - - name: unioned
      query: SELECT * FROM evens UNION ALL SELECT * FROM odds
"""
    result = run_pipeline(spark, load_pipeline_str(yml))
    assert result.result.count() == 5
    spark.catalog.dropTempView("unioned")
    spark.catalog.dropTempView("test_data")


def test_show_and_schema_outputs(spark, test_csv):
    tracker = CollectingTracker()
    yml = f"""
sources:
  - type: file
    name: test_data
    format:
      type: csv
    location: {test_csv}
stages:
  - name: shown
    query: SELECT id, name FROM test_data
    show: 2
    print_schema: true
    explain: true
"""
    run_pipeline(spark, load_pipeline_str(yml), tracker)
    kinds = {o[1] for o in tracker.outputs}
    assert {"show", "schema", "explain"} <= kinds
    show_payload = next(o[2] for o in tracker.outputs if o[1] == "show")
    assert "Alice" in show_payload
    event_kinds = [e.kind for e in tracker.events]
    assert event_kinds[0] == "started"
    assert event_kinds[-1] == "completed"
    assert "stage_completed" in event_kinds
    spark.catalog.dropTempView("shown")
    spark.catalog.dropTempView("test_data")


def test_json_source_and_parquet_roundtrip(spark, tmp_path):
    src = tmp_path / "data.jsonl"
    src.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    out = tmp_path / "out_parquet"
    yml = f"""
sources:
  - type: file
    name: j
    format:
      type: json
    location: {src}
stages:
  - name: doubled
    query: SELECT a * 2 AS a2, upper(b) AS b_up FROM j
destination:
  type: file
  name: out
  format:
    type: parquet
    options:
      compression: zstd
  single_file: false
  location: {out}
"""
    run_pipeline(spark, load_pipeline_str(yml))
    back = spark.read.parquet(str(out)).orderBy("a2").collect()
    assert [r.a2 for r in back] == [2, 4]
    assert [r.b_up for r in back] == ["X", "Y"]
    spark.catalog.dropTempView("doubled")
    spark.catalog.dropTempView("j")


def test_partitioned_output(spark, test_csv, tmp_path):
    out = tmp_path / "by_active"
    yml = f"""
sources:
  - type: file
    name: test_data
    format:
      type: csv
    location: {test_csv}
stages:
  - name: all_rows
    query: SELECT * FROM test_data
destination:
  type: file
  name: out
  format:
    type: parquet
  single_file: false
  partition_columns: [active]
  location: {out}
"""
    run_pipeline(spark, load_pipeline_str(yml))
    subdirs = {p.name for p in out.iterdir() if p.is_dir()}
    assert "active=true" in subdirs and "active=false" in subdirs
    spark.catalog.dropTempView("all_rows")
    spark.catalog.dropTempView("test_data")


def test_in_memory_source_roundtrip(spark):
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).createOrReplaceTempView(
        "preexisting"
    )
    yml = """
sources:
  - type: in_memory
    name: preexisting
stages:
  - name: mem_out
    query: SELECT count(*) AS n FROM preexisting
"""
    result = run_pipeline(spark, load_pipeline_str(yml))
    assert result.result.collect()[0].n == 2
    spark.catalog.dropTempView("mem_out")
    spark.catalog.dropTempView("preexisting")


def test_missing_in_memory_source_fails(spark):
    yml = """
sources:
  - type: in_memory
    name: does_not_exist_42
stages:
  - name: s
    query: SELECT 1 AS a
"""
    from aqueducts_spark.sources.register import SourceError

    with pytest.raises(SourceError):
        run_pipeline(spark, load_pipeline_str(yml))


def test_directory_source_with_partitions(spark, tmp_path):
    base = tmp_path / "dir_src"
    for year, rows in [("2023", [(1, "a")]), ("2024", [(2, "b")])]:
        df = spark.createDataFrame(rows, ["id", "v"])
        df.write.mode("overwrite").parquet(str(base / f"year={year}"))
    yml = f"""
sources:
  - type: directory
    name: dir_data
    format:
      type: parquet
    partition_columns:
      - [year, int32]
    location: {base}
stages:
  - name: recent
    query: SELECT id, v, year FROM dir_data WHERE year = 2024
"""
    result = run_pipeline(spark, load_pipeline_str(yml))
    rows = result.result.collect()
    assert len(rows) == 1 and rows[0].id == 2
    assert dict(result.result.dtypes)["year"] == "int"
    spark.catalog.dropTempView("recent")
    spark.catalog.dropTempView("dir_data")


def test_orc_roundtrip(spark, tmp_path, sf_dir):
    """ORC source + destination (Spark-native bonus format)."""
    from aqueducts_spark import load_pipeline_str, run_pipeline

    out = tmp_path / "orc_out"
    yml = f"""
version: "v2"
sources:
  - type: file
    name: orc_orders
    format: {{type: parquet}}
    location: {sf_dir}/orders.parquet
stages:
  - - name: orc_summary
      query: >
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orc_orders GROUP BY o_orderstatus
destination:
  type: file
  name: out
  format: {{type: orc, options: {{compression: zlib}}}}
  location: {out}
  single_file: false
"""
    run_pipeline(spark, load_pipeline_str(yml))
    back = spark.read.orc(str(out))
    assert back.count() == 3
    assert set(back.columns) == {"o_orderstatus", "n", "total"}

    # read it back through an orc *source* with a schema override
    yml2 = f"""
version: "v2"
sources:
  - type: file
    name: orc_back
    format:
      type: orc
      options:
        schema:
          - name: o_orderstatus
            data_type: string
          - name: n
            data_type: long
          - name: total
            data_type: double
    location: {out}
stages:
  - - name: orc_back_count
      query: SELECT COUNT(*) AS n FROM orc_back
"""
    res = run_pipeline(spark, load_pipeline_str(yml2))
    assert res.result.collect()[0].n == 3


def test_cluster_by_and_zorder_by_together_rejected_at_load(spark):
    """Conflicting physical orderings fail at config validation, before
    any shuffle is paid."""
    import pytest as _pytest

    from aqueducts_spark.config.model import FileDestination

    with _pytest.raises(Exception, match="mutually exclusive"):
        FileDestination(
            name="out",
            location="/tmp/x",
            format={"type": "parquet"},
            single_file=False,
            cluster_by=["a"],
            zorder_by=["a", "b"],
        )


def test_delta_partition_column_not_in_schema_fails_at_prepare(spark, tmp_path):
    from aqueducts_spark.config.model import parse_destination
    from aqueducts_spark.destinations.write import DestinationError, prepare_destination

    dest = parse_destination(
        {
            "type": "delta",
            "name": "bad_part",
            "location": str(tmp_path / "bad_part"),
            "write_mode": {"operation": "append"},
            "partition_columns": ["nope"],
            "schema": [
                {"name": "id", "data_type": "int64"},
                {"name": "v", "data_type": "string"},
            ],
        }
    )
    with pytest.raises(DestinationError, match="partition column"):
        prepare_destination(spark, dest)


def test_cluster_files_zero_rejected(spark, tmp_path):
    from aqueducts_spark.config.model import parse_destination
    from aqueducts_spark.destinations.write import DestinationError, prepare_destination

    dest = parse_destination(
        {
            "type": "file",
            "name": "cf0",
            "location": str(tmp_path / "cf0"),
            "format": {"type": "parquet"},
            "single_file": False,
            "cluster_by": ["id"],
            "cluster_files": 0,
        }
    )
    with pytest.raises(DestinationError, match="cluster_files"):
        prepare_destination(spark, dest)


def test_ttl_name_matching_is_case_insensitive(spark, sf_dir):
    """Spark resolves view identifiers case-insensitively; the TTL scan
    must too, or a cached stage's view is dropped while a later stage
    still references it in different case."""
    from aqueducts_spark import load_pipeline_str, run_pipeline
    from aqueducts_spark.progress import CollectingTracker

    yml = f"""
sources:
  - type: file
    name: ttl_nat
    format: {{type: parquet}}
    location: {sf_dir}/nation.parquet
stages:
  - - name: TtlDocs
      query: SELECT n_nationkey AS id FROM ttl_nat
      eager: true
  - - name: ttl_mid
      query: SELECT count(*) AS n FROM ttldocs
  - - name: ttl_final
      query: SELECT n FROM ttl_mid
"""
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    assert spark.table("ttl_final").collect()[0].n == 25
    for v in ("ttl_mid", "ttl_final"):
        spark.catalog.dropTempView(v)


def test_ttl_keeps_eager_view_read_through_operator_option(spark, sf_dir):
    """A view named only in an operator's table option (oov_rate's
    options.vocab) is a use: TTL reclamation must not drop the eager
    vocabulary stage's view before the later group reads it."""
    from aqueducts_spark import load_pipeline_str, run_pipeline
    from aqueducts_spark.progress import CollectingTracker

    yml = f"""
sources:
  - type: file
    name: ttlop_docs
    format: {{type: parquet}}
    location: {sf_dir}/documents.parquet
stages:
  - - name: ttlop_vocab
      eager: true
      operator: {{type: vocabulary, input: ttlop_docs, options: {{top_n: 50}}}}
  - - name: ttlop_oov
      operator: {{type: oov_rate, input: ttlop_docs, options: {{vocab: ttlop_vocab}}}}
"""
    result = run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    assert result.result.count() == spark.table("ttlop_docs").count()
    for v in ("ttlop_oov", "ttlop_vocab", "ttlop_docs"):
        spark.catalog.dropTempView(v)


def test_referenced_tables_lists_every_table_option():
    from aqueducts_spark.operators.registry import (
        OPERATORS,
        referenced_tables,
        signature,
    )

    for op_type in OPERATORS:
        spec, _, params = signature(op_type)
        yaml_key = {param: key for key, param in spec.aliases.items()}
        for param, p in params.items():
            if p.table:
                key = yaml_key.get(param, param)
                refs = referenced_tables(
                    {"type": op_type, "input": "in_t", "options": {key: "tbl_x"}}
                )
                assert refs == ["in_t", "tbl_x"], (op_type, key)


def test_in_memory_destination_cache_survives_pipeline_end(spark, sf_dir):
    """The in_memory destination caches the result so later reads don't
    recompute; the post-write cache release must not undo that."""
    from aqueducts_spark import load_pipeline_str, run_pipeline
    from aqueducts_spark.progress import CollectingTracker

    yml = f"""
sources:
  - type: file
    name: memcache_nat
    format: {{type: parquet}}
    location: {sf_dir}/nation.parquet
stages:
  - name: memcache_stage
    query: SELECT count(*) AS n FROM memcache_nat
    eager: true
destination: {{type: in_memory, name: memcache_out}}
"""
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    df = spark.table("memcache_out")
    assert df.storageLevel.useMemory
    assert df.collect()[0].n == 25
    df.unpersist()
    spark.catalog.dropTempView("memcache_out")


def test_eager_cache_survives_until_destination_write(spark, sf_dir, tmp_path):
    """An eager stage textually last-used mid-pipeline must stay cached
    through the (lazy) destination write that actually consumes it."""
    from aqueducts_spark import load_pipeline_str, run_pipeline
    from aqueducts_spark.progress import CollectingTracker

    yml = f"""
sources:
  - type: file
    name: keep_nat
    format: {{type: parquet}}
    location: {sf_dir}/nation.parquet
stages:
  - - name: keep_base
      query: SELECT n_nationkey AS id, n_regionkey AS r FROM keep_nat
      eager: true
  - - name: keep_a
      query: SELECT r, count(*) AS n FROM keep_base GROUP BY r
    - name: keep_b
      query: SELECT count(DISTINCT id) AS d FROM keep_base
  - - name: keep_join
      query: SELECT a.r, a.n, b.d FROM keep_a a CROSS JOIN keep_b b
destination:
  type: file
  name: keep_out
  format: {{type: parquet}}
  location: {tmp_path}/keep_out
"""
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    back = spark.read.parquet(f"{tmp_path}/keep_out")
    assert back.count() == 5 and set(back.columns) == {"r", "n", "d"}


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager, materialized or not."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _next_sql_exec_id(spark) -> int:
    """Id the next SQL execution gets.  Not ``executionsCount()``: the
    store keeps only the newest executions, and ids are dense."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() + 1 if n else 0


def _sql_execs_since(spark, first: int) -> list:
    store = spark._jsparkSession.sharedState().statusStore()
    found, out = store.execution(first), []
    while found.isDefined():
        out.append(found.get())
        found = store.execution(first + len(out))
    return out


def _files_read(spark, execs) -> int:
    """Files the run's file scans read, one count per scan node: each
    accumulator is counted once, though adaptive execution lists a
    node's metrics once per plan version."""
    store = spark._jsparkSession.sharedState().statusStore()
    total, seen = 0, set()
    for ex in execs:
        values = store.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            value = values.get(m.accumulatorId())
            if m.name() == "number of files read" and m.accumulatorId() not in seen and value.isDefined():
                seen.add(m.accumulatorId())
                total += int(value.get().replace(",", ""))
    return total


def _ttl_pipeline(sf_dir: str, prefix: str, destination: str, eager: bool = True) -> str:
    """``{prefix}base`` has two consumers in the middle group, so it is
    cached and its view's TTL ends before the last group, which joins
    both consumers (and, with ``eager``, the eager stage
    ``{prefix}eager``, whose view stays registered to the end)."""
    eager_stage = f"""
    - name: {prefix}eager
      query: SELECT count(*) AS m FROM {prefix}nat
      eager: true""" if eager else ""
    eager_join = f" CROSS JOIN {prefix}eager" if eager else ""
    return f"""
sources:
  - type: file
    name: {prefix}nat
    format: {{type: parquet}}
    location: {sf_dir}/nation.parquet
stages:
  - - name: {prefix}base
      query: SELECT n_nationkey AS id, n_regionkey AS r FROM {prefix}nat WHERE n_nationkey >= 0{eager_stage}
  - - name: {prefix}a
      query: SELECT r, count(*) AS n FROM {prefix}base GROUP BY r
    - name: {prefix}b
      query: SELECT count(DISTINCT id) AS d FROM {prefix}base
  - - name: {prefix}final
      query: SELECT a.r, a.n, b.d FROM {prefix}a a CROSS JOIN {prefix}b b{eager_join}
{destination}
"""


def test_ttl_dropped_stage_cache_serves_the_write(spark, sf_dir, tmp_path):
    """Dropping a cached stage's view at its last textual use must not
    drop its cache: the consumers are lazy, so the destination write is
    what reads it.  The write's executed plan scans the cache, and the
    source file is read once in the whole run."""
    out = tmp_path / "ttlcache_out"
    yml = _ttl_pipeline(
        sf_dir,
        "ttlcache_",
        f"destination: {{type: file, name: o, format: {{type: parquet}}, location: {out}}}",
        eager=False,
    )
    first = _next_sql_exec_id(spark)
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    execs = _sql_execs_since(spark, first)
    writes = [ex for ex in execs if "InsertIntoHadoopFsRelationCommand" in ex.physicalPlanDescription()]
    assert len(writes) == 1
    assert "InMemoryTableScan" in writes[0].physicalPlanDescription()
    assert _files_read(spark, execs) == 1
    back = spark.read.parquet(str(out))
    assert back.count() == 5 and {r.d for r in back.collect()} == {25}
    for v in ("ttlcache_nat", "ttlcache_a", "ttlcache_b", "ttlcache_final"):
        spark.catalog.dropTempView(v)


def test_run_releases_the_caches_it_made(spark, sf_dir, tmp_path):
    """A written run leaves no cache behind; an in_memory run keeps only
    the result's cache and those of stages whose views stay registered
    (the TTL-dropped stage's cache goes, as nothing can name it)."""
    before = _cache_entries(spark)
    out = tmp_path / "leak_out"
    yml = _ttl_pipeline(
        sf_dir,
        "leakw_",
        f"destination: {{type: file, name: o, format: {{type: parquet}}, location: {out}}}",
    )
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    assert _cache_entries(spark) == before
    assert not spark.table("leakw_eager").storageLevel.useMemory

    yml = _ttl_pipeline(sf_dir, "leakm_", "destination: {type: in_memory, name: leakm_out}")
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    assert _cache_entries(spark) == before + 2
    assert spark.table("leakm_out").storageLevel.useMemory
    assert spark.table("leakm_eager").storageLevel.useMemory
    assert spark.table("leakm_out").count() == 5
    for v in ("leakm_out", "leakm_eager"):
        spark.table(v).unpersist(blocking=True)
    assert _cache_entries(spark) == before
    for p in ("leakw_", "leakm_"):
        for v in ("nat", "eager", "a", "b", "final"):
            spark.catalog.dropTempView(p + v)
    spark.catalog.dropTempView("leakm_out")
