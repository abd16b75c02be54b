"""Delta source in YAML pipelines, including version time travel (A7)."""

from aqueducts_spark import load_pipeline_str, run_pipeline
from aqueducts_spark.delta.protocol import DeltaProtocolTable


def test_delta_source_with_version_pin(spark, tmp_path):
    loc = tmp_path / "dt"
    t = DeltaProtocolTable(spark, str(loc))
    t.create_if_absent([], [], {}, {})
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))   # version 1
    t.append(spark.createDataFrame([(2, "b")], ["id", "v"]))   # version 2

    yml_latest = f"""
sources:
  - type: delta
    name: dsrc_latest
    location: {loc}
stages:
  - name: dcount_latest
    query: SELECT count(*) AS n FROM dsrc_latest
"""
    assert run_pipeline(spark, load_pipeline_str(yml_latest)).result.collect()[0].n == 2

    yml_pinned = f"""
sources:
  - type: delta
    name: dsrc_v1
    location: {loc}
    version: 1
stages:
  - name: dcount_v1
    query: SELECT count(*) AS n FROM dsrc_v1
"""
    assert run_pipeline(spark, load_pipeline_str(yml_pinned)).result.collect()[0].n == 1
    for v in ("dcount_latest", "dsrc_latest", "dcount_v1", "dsrc_v1"):
        spark.catalog.dropTempView(v)


def test_delta_source_change_feed_mode(spark, tmp_path):
    """change_feed: true switches the changes_from source to spec CDF
    semantics (per-commit rows + _commit_version, cdc-aware)."""
    import json

    from aqueducts_spark.config.loader import load_pipeline_str
    from aqueducts_spark.pipeline import run_pipeline
    from aqueducts_spark.progress import CollectingTracker
    from aqueducts_spark.types import Field

    tbl = tmp_path / "cf_src"
    t = DeltaProtocolTable(spark, str(tbl))
    t.create_if_absent(
        [Field(name="id", data_type="int64", nullable=False),
         Field(name="v", data_type="string", nullable=True)],
        [], {"delta.enableChangeDataFeed": "true"}, {},
    )
    df = lambda rows: spark.createDataFrame(rows, "id long, v string")
    t.append(df([(1, "a"), (2, "b")]))                 # v1
    t.upsert(df([(2, "B")]), keys=["id"])              # v2 (cdc actions)
    yml = f"""
sources:
  - type: delta
    name: cf
    location: {tbl}
    changes_from: 0
    change_feed: true
stages:
  - name: cf_rows
    query: SELECT id, v, _change_type, _commit_version FROM cf
"""
    run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
    rows = {(r.id, r.v, r._change_type, r._commit_version)
            for r in spark.table("cf_rows").collect()}
    assert (2, "b", "delete", 2) in rows and (2, "B", "insert", 2) in rows
    assert (1, "a", "insert", 1) in rows
    spark.catalog.dropTempView("cf_rows")


def test_delta_source_change_feed_requires_changes_from(spark, tmp_path):
    from aqueducts_spark.config.loader import load_pipeline_str
    from aqueducts_spark.pipeline import run_pipeline
    from aqueducts_spark.progress import CollectingTracker
    from aqueducts_spark.sources.register import SourceError

    yml = f"""
sources:
  - type: delta
    name: cf_bad
    location: {tmp_path}/nope
    change_feed: true
stages:
  - name: s
    query: SELECT 1 AS one
"""
    import pytest as _pytest

    with _pytest.raises(SourceError, match="change_feed requires changes_from"):
        run_pipeline(spark, load_pipeline_str(yml), CollectingTracker())
