"""Function-pack tests mirroring the reference UDF golden tests
(aqueducts/core/src/custom_udfs.rs:72-162)."""

import pytest

from aqueducts_spark.functions import register_udfs
from aqueducts_spark.functions.compat import _SQL_UDFS


@pytest.fixture(autouse=True)
def _udfs(spark):
    register_udfs(spark)


def _one(spark, expr, value):
    return spark.sql(f"SELECT {expr} AS out FROM (VALUES ({value!r})) AS t(c)").collect()[
        0
    ].out


def test_unnest_numbers(spark):
    assert _one(spark, "unnest_json_array(c)", "[1, 2, 3]") == ["1", "2", "3"]


def test_unnest_strings_keep_quotes(spark):
    assert _one(spark, "unnest_json_array(c)", '["foo", "bar"]') == ['"foo"', '"bar"']


def test_unnest_objects_compact(spark):
    assert _one(spark, "unnest_json_array(c)", '[{"x":1}, {"y":"foo"}]') == [
        '{"x":1}',
        '{"y":"foo"}',
    ]


def test_unnest_null_passthrough(spark):
    row = spark.sql(
        "SELECT unnest_json_array(c) AS out FROM (SELECT cast(null AS string) AS c)"
    ).collect()[0]
    assert row.out is None


def test_unnest_non_array_errors(spark):
    with pytest.raises(Exception, match="expected JSON array"):
        spark.sql(
            "SELECT unnest_json_array(c) AS out FROM (VALUES ('{\"a\":1}')) AS t(c)"
        ).collect()


JSON_DOC = '{"name": "ann", "age": 3, "score": 1.5, "ok": true, "tags": ["a", "b"], "nested": {"k": null}}'


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("json_get_str(c, 'name')", "ann"),
        ("json_get_str(c, 'tags')", None),  # strict: non-strings are NULL
        ("json_as_text(c, 'tags')", '["a","b"]'),
        ("json_get_str(c, 'tags.-1')", None),  # negative path = absent
        ("json_get_int(c, 'age')", 3),
        ("json_get_int(c, 'score')", None),
        ("json_get_float(c, 'score')", 1.5),
        ("json_get_float(c, 'age')", 3.0),
        ("json_get_bool(c, 'ok')", True),
        ("json_get_bool(c, 'age')", None),
        ("json_as_text(c, 'nested')", '{"k":null}'),
        ("json_get_str(c, 'tags.1')", "b"),
        ("json_contains(c, 'name')", True),
        ("json_contains(c, 'nested.k')", True),
        ("json_contains(c, 'missing')", False),
        ("json_length(c, 'tags')", 2),
        ("json_length(c, 'name')", None),
    ],
)
def test_json_shims(spark, expr, expected):
    got = _one(spark, expr, JSON_DOC)
    if isinstance(expected, float):
        assert got == pytest.approx(expected)
    else:
        assert got == expected


def test_native_stats_aggregates(spark):
    """The native stddev/var/corr builtins (SURVEY §2.B stats row) agree
    with the exact sufficient-statistics formulation used by the
    q26_stats_aggs gate query (which avoids their last-ulp
    parallel-summation nondeterminism)."""
    df = spark.createDataFrame(
        [(float(x), float(x * x % 7)) for x in range(1, 101)], ["x", "y"]
    )
    row = df.selectExpr(
        "stddev_samp(x) AS sd", "var_samp(x) AS var", "corr(x, y) AS c"
    ).collect()[0]
    import statistics

    xs = [float(x) for x in range(1, 101)]
    ys = [float(x * x % 7) for x in range(1, 101)]
    assert row.sd == pytest.approx(statistics.stdev(xs), rel=1e-9)
    assert row.var == pytest.approx(statistics.variance(xs), rel=1e-9)
    assert row.c == pytest.approx(statistics.correlation(xs, ys), rel=1e-9)


def test_udtf_split_sentences(spark):
    from aqueducts_spark.functions import register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT s.* FROM VALUES ('One two. Three! Four?') AS t(txt), "
        "LATERAL split_sentences(txt) s"
    ).collect()
    assert [(r.sentence, r.idx, r.n_tokens) for r in rows] == [
        ("One two.", 0, 2), ("Three!", 1, 1), ("Four?", 2, 1),
    ]


def test_udtf_parse_key_values(spark):
    from aqueducts_spark.functions import register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT kv.* FROM VALUES ('a=1, b = 2,malformed,c=x') AS t(txt), "
        "LATERAL parse_key_values(txt) kv"
    ).collect()
    assert {(r.key, r.value) for r in rows} == {("a", "1"), ("b", "2"), ("c", "x")}


def test_udtf_available_in_pipeline_sql(spark, sf_dir):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    yml = f"""
version: "v2"
sources:
  - type: file
    name: udtf_docs
    format: {{type: parquet}}
    location: {sf_dir}/documents.parquet
stages:
  - - name: udtf_out
      query: >
        SELECT d.doc_id, s.sentence, s.n_tokens
        FROM udtf_docs d, LATERAL split_sentences(d.text) s
        WHERE d.doc_id < 3
"""
    res = run_pipeline(spark, load_pipeline_str(yml))
    assert res.result.count() >= 3


def test_udaf_geometric_harmonic_mean(spark):
    """Pandas GROUPED_AGG UDAFs registered for stage SQL (the UDAF tier
    of SURVEY §2.B's UDF/UDAF/UDTF row — beyond the reference's
    scalar-only UDFs)."""
    import statistics

    from aqueducts_spark.functions import register_udafs

    register_udafs(spark)
    df = spark.createDataFrame(
        [("a", 2.0), ("a", 8.0), ("a", 4.0), ("b", 5.0), ("c", 0.0)],
        "grp string, v double",
    )
    df.createOrReplaceTempView("udaf_t")
    got = {
        r.grp: (r.gm, r.hm)
        for r in spark.sql(
            "SELECT grp, geometric_mean(v) AS gm, harmonic_mean(v) AS hm "
            "FROM udaf_t GROUP BY grp"
        ).collect()
    }
    assert got["a"][0] == pytest.approx(statistics.geometric_mean([2.0, 8.0, 4.0]))
    assert got["a"][1] == pytest.approx(statistics.harmonic_mean([2.0, 8.0, 4.0]))
    assert got["b"] == (pytest.approx(5.0), pytest.approx(5.0))
    # zero/negative-only groups have no valid inputs -> NULL
    assert got["c"] == (None, None)
    spark.catalog.dropTempView("udaf_t")


def test_udaf_available_in_pipeline_sql(spark, tmp_path):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    yml = f"""
version: "v2"
sources:
  - type: file
    name: udaf_orders
    format: {{type: parquet}}
    location: /root/testdata/sf0.001/orders.parquet
stages:
  - - name: udaf_out
      query: >
        SELECT o_orderstatus,
               geometric_mean(CAST(o_totalprice AS DOUBLE)) AS gm
        FROM udaf_orders GROUP BY o_orderstatus
destination:
  type: file
  name: out
  format: {{type: parquet}}
  location: {tmp_path}/udaf_out
"""
    run_pipeline(spark, load_pipeline_str(yml))
    rows = spark.read.parquet(f"{tmp_path}/udaf_out").collect()
    assert len(rows) >= 1 and all(r.gm > 0 for r in rows)
    spark.catalog.dropTempView("udaf_orders")
    spark.catalog.dropTempView("udaf_out")


def test_parse_key_values_malformed_separators_skip_not_crash(spark):
    """Malformed separators follow the documented skip contract —
    ''.split('') raised in the worker and killed the whole job."""
    from aqueducts_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    assert (
        spark.sql(
            "SELECT * FROM parse_key_values('a=1,b=2', '', '=')"
        ).count()
        == 0
    )
    assert (
        spark.sql(
            "SELECT * FROM parse_key_values('a=1,b=2', ',', CAST(NULL AS STRING))"
        ).count()
        == 0
    )
    rows = spark.sql(
        "SELECT * FROM parse_key_values('a=1,b=2', ',', '=') ORDER BY key"
    ).collect()
    assert [(r.key, r.value) for r in rows] == [("a", "1"), ("b", "2")]


def _function_ddls(spark, run):
    """Run ``run()`` and count the CREATE FUNCTION executions it fired,
    read from the session's SQL status store (execution ids are dense)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    next_id = store.executionsList(n - 1, 1).apply(0).executionId() + 1 if n else 0
    result = run()
    plans = []
    while (found := store.execution(next_id)).isDefined():
        plans.append(found.get().physicalPlanDescription())
        next_id += 1
    return result, sum("CreateSQLFunctionCommand" in p for p in plans)


def test_function_pack_registers_once_per_session(spark):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    def run(session, name):
        yml = f"""
version: "v2"
sources: []
stages:
  - - name: {name}
      query: SELECT gcd(12, 18) AS g, unnest_json_array('[1, "a"]') AS u
"""
        return run_pipeline(session, load_pipeline_str(yml)).result.collect()

    run(spark, "pack_warm")
    fresh = spark.newSession()  # temporary functions are per session
    rows, first = _function_ddls(fresh, lambda: run(fresh, "pack_first"))
    assert [(r.g, r.u) for r in rows] == [(6, ["1", '"a"'])]
    assert first == len(_SQL_UDFS)
    rows, second = _function_ddls(fresh, lambda: run(fresh, "pack_second"))
    assert [(r.g, r.u) for r in rows] == [(6, ["1", '"a"'])]
    assert second == 0
