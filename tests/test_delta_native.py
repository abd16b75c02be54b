"""Native delta-spark interop tests.

These exercise the REAL Delta Lake protocol path (DeltaLayer.native /
_write_delta_native) and therefore require the ``delta-spark`` package
plus a session built with the Delta SQL extension.  In environments
without delta-spark (such as this build container) every test is
skipped — the suite then covers the pure-Python Delta-protocol table
(``aqueducts_spark.delta.protocol``), whose interop with other engines
``tests/test_delta_interop.py`` checks against frozen fixtures and a
clean-room reader.
"""

from __future__ import annotations

import importlib.util

import pytest

HAVE_DELTA = importlib.util.find_spec("delta") is not None

pytestmark = pytest.mark.skipif(
    not HAVE_DELTA, reason="delta-spark not installed; native Delta path untestable"
)


@pytest.fixture(scope="module")
def delta_spark():
    from delta import configure_spark_with_delta_pip  # type: ignore
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("delta-native-test")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
    yield spark
    spark.stop()


def _dest(location, operation, params=None):
    from aqueducts_spark.config.model import DeltaDestination, DeltaWriteMode

    return DeltaDestination(
        name="t",
        location=location,
        mode=DeltaWriteMode(operation=operation, params=params),
    )


def test_native_append_and_read(delta_spark, tmp_path):
    from aqueducts_spark.delta.table import delta_layer
    from aqueducts_spark.destinations.write import _write_delta_native

    loc = str(tmp_path / "t")
    df = delta_spark.createDataFrame([(1, "a"), (2, "b")], "id: bigint, v: string")
    _write_delta_native(delta_spark, _dest(loc, "append"), df, loc)

    layer = delta_layer(delta_spark)
    assert layer.native, "session has the Delta extension; layer must go native"
    got = {tuple(r) for r in layer.read(loc).collect()}
    assert got == {(1, "a"), (2, "b")}
    # protocol marker: a real Delta table has a _delta_log directory
    assert (tmp_path / "t" / "_delta_log").is_dir()


def test_native_upsert(delta_spark, tmp_path):
    from aqueducts_spark.delta.table import delta_layer
    from aqueducts_spark.destinations.write import _write_delta_native

    loc = str(tmp_path / "t")
    base = delta_spark.createDataFrame([(1, "a"), (2, "b")], "id: bigint, v: string")
    _write_delta_native(delta_spark, _dest(loc, "append"), base, loc)
    upd = delta_spark.createDataFrame([(2, "B"), (3, "c")], "id: bigint, v: string")
    _write_delta_native(delta_spark, _dest(loc, "upsert", params=["id"]), upd, loc)
    got = {tuple(r) for r in delta_layer(delta_spark).read(loc).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_native_time_travel(delta_spark, tmp_path):
    from aqueducts_spark.delta.table import delta_layer
    from aqueducts_spark.destinations.write import _write_delta_native

    loc = str(tmp_path / "t")
    v0 = delta_spark.createDataFrame([(1, "a")], "id: bigint, v: string")
    _write_delta_native(delta_spark, _dest(loc, "append"), v0, loc)
    v1 = delta_spark.createDataFrame([(2, "b")], "id: bigint, v: string")
    _write_delta_native(delta_spark, _dest(loc, "append"), v1, loc)

    layer = delta_layer(delta_spark)
    assert layer.read(loc).count() == 2
    # native versionAsOf: version 1 is the state after the first commit
    # (createIfNotExists is version 0)
    early = layer.read(loc, version=1)
    assert early.count() == 1
