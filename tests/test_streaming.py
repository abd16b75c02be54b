"""Structured Streaming operators: file-stream source -> watermarked
window agg / session windows, drained with availableNow."""

import pytest
from pyspark.sql import functions as F

from aqueducts_spark.streaming import (
    file_stream_source,
    run_available_now,
    sessionize_stream,
    windowed_aggregate,
)
from aqueducts_spark.types import parse_fields

SCHEMA = [
    {"name": "user_id", "data_type": "int64"},
    {"name": "ts", "data_type": "timestamp<us,UTC>"},
    {"name": "value", "data_type": "float64"},
]


@pytest.fixture()
def stream_dir(spark, tmp_path):
    src = tmp_path / "stream_src"
    rows = [
        (1, "2024-01-01 00:01:00", 1.0),
        (1, "2024-01-01 00:05:00", 2.0),
        (1, "2024-01-01 02:00:00", 3.0),  # new session (gap > 30 min)
        (2, "2024-01-01 00:59:00", 4.0),
        (2, "2024-01-01 01:01:00", 5.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
        "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    df.write.mode("overwrite").parquet(str(src))
    return str(src)


def test_windowed_aggregate(spark, stream_dir, tmp_path):
    stream = file_stream_source(spark, stream_dir, "parquet", parse_fields(SCHEMA))
    assert stream.isStreaming
    agg = windowed_aggregate(
        stream,
        "ts",
        "1 hour",
        {"n": F.count("*"), "total": F.sum("value")},
        group_by=["user_id"],
    )
    rows = run_available_now(agg, str(tmp_path / "ckpt1"), output_mode="complete")
    got = {
        (r.user_id, r.window_start.strftime("%H:%M")): (r.n, r.total) for r in rows
    }
    assert got[(1, "00:00")] == (2, 3.0)
    assert got[(1, "02:00")] == (1, 3.0)
    assert got[(2, "00:00")] == (1, 4.0)
    assert got[(2, "01:00")] == (1, 5.0)


def test_sessionize_stream(spark, stream_dir, tmp_path):
    stream = file_stream_source(spark, stream_dir, "parquet", parse_fields(SCHEMA))
    sessions = sessionize_stream(
        stream, "ts", ["user_id"], gap="30 minutes",
        aggs={"n_events": F.count("*"), "total": F.sum("value")},
    )
    rows = run_available_now(sessions, str(tmp_path / "ckpt2"), output_mode="complete")
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.n_events, r.total))
    # user 1: two sessions (2 events, then 1); user 2: one merged session
    assert sorted(per_user[1]) == [(1, 3.0), (2, 3.0)]
    assert per_user[2] == [(2, 9.0)]


def _two_batch_dir(spark, tmp_path):
    """Two separate parquet files -> maxFilesPerTrigger=1 forces two
    micro-batches, so cross-batch state is actually exercised."""
    from pyspark.sql import functions as F

    src = tmp_path / "stateful_src"
    b1 = [(1, "2024-01-01 00:01:00", 1.0), (2, "2024-01-01 00:02:00", 2.0)]
    b2 = [(1, "2024-01-01 01:00:00", 9.0), (3, "2024-01-01 01:01:00", 3.0)]
    for i, rows in enumerate([b1, b2]):
        df = spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
            "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
        )
        df.coalesce(1).write.parquet(str(src / f"batch{i}"))
    # flatten: streaming source needs one dir of files
    import glob, shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    import os, time

    now = time.time()
    for j, f in enumerate(sorted(glob.glob(str(src / "batch*" / "*.parquet")))):
        dst = flat / f"{j:02d}.parquet"
        shutil.copy(f, dst)
        # the file stream orders micro-batches by modification time:
        # make it explicit so batch0 really arrives first
        os.utime(dst, (now + j * 10, now + j * 10))
    return str(flat)


def test_dedup_stream_across_batches(spark, tmp_path):
    from aqueducts_spark.streaming import dedup_stream, file_stream_source, run_available_now

    path = _two_batch_dir(spark, tmp_path)
    stream = file_stream_source(
        spark, path, "parquet", parse_fields(SCHEMA),
        options={"maxFilesPerTrigger": "1"},
    )
    out = dedup_stream(stream, ["user_id"])
    rows = run_available_now(out, str(tmp_path / "ckpt_dedup"))
    by_user = {r.user_id: r.value for r in rows}
    # user 1 appears in both micro-batches; only the first survives
    assert by_user == {1: 1.0, 2: 2.0, 3: 3.0}


def test_running_counts_stream(spark, tmp_path):
    from aqueducts_spark.streaming import (
        file_stream_source,
        run_available_now,
        running_counts_stream,
    )

    path = _two_batch_dir(spark, tmp_path)
    stream = file_stream_source(
        spark, path, "parquet", parse_fields(SCHEMA),
        options={"maxFilesPerTrigger": "1"},
    )
    out = running_counts_stream(stream, ["user_id"])
    rows = run_available_now(out, str(tmp_path / "ckpt_counts"), output_mode="update")
    # final state: user 1 counted in both batches
    final = {}
    for r in rows:
        final[r.user_id] = max(final.get(r.user_id, 0), r.running_count)
    assert final == {1: 2, 2: 1, 3: 1}


def test_quota_stream_limits_rows_per_key(spark, tmp_path):
    from aqueducts_spark.streaming import file_stream_source, quota_stream, run_available_now

    path = _two_batch_dir(spark, tmp_path)
    stream = file_stream_source(
        spark, path, "parquet", parse_fields(SCHEMA),
        options={"maxFilesPerTrigger": "1"},
    )
    out = quota_stream(stream, ["user_id"], limit=1)
    rows = run_available_now(out, str(tmp_path / "ckpt_quota"))
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.value)
    # user 1 appears in both micro-batches; the quota admits only the
    # first row ever seen (cross-batch state on transformWithState)
    assert by_user == {1: [1.0], 2: [2.0], 3: [3.0]}


def test_quota_stream_partial_batch(spark, tmp_path):
    from aqueducts_spark.streaming import file_stream_source, quota_stream, run_available_now

    import os, time
    from pyspark.sql import functions as F

    src = tmp_path / "q2"
    rows = [(1, "2024-01-01 00:00:01", float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
        "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    df.coalesce(1).write.parquet(str(src))
    stream = file_stream_source(spark, str(src), "parquet", parse_fields(SCHEMA))
    out = quota_stream(stream, ["user_id"], limit=3)
    got = run_available_now(out, str(tmp_path / "ckpt_quota2"))
    assert len(got) == 3 and all(r.user_id == 1 for r in got)


def test_interval_join_stream_matches_batch_range_join(spark, tmp_path):
    from pyspark.sql import functions as F
    from aqueducts_spark.streaming import file_stream_source, interval_join_stream, run_available_now

    imp_rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-01 02:00:00", 11.0),
        (2, "2024-01-01 00:30:00", 20.0),
    ]
    clk_rows = [
        (1, "2024-01-01 00:10:00", 1.0),   # within 1h of imp@00:00
        (1, "2024-01-01 02:59:00", 2.0),   # within 1h of imp@02:00
        (2, "2024-01-01 03:00:00", 3.0),   # too late for imp@00:30
    ]
    dirs = {}
    for name, rows in [("imp", imp_rows), ("clk", clk_rows)]:
        df = spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
            "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
        )
        d = tmp_path / name
        df.coalesce(1).write.parquet(str(d))
        dirs[name] = str(d)

    imp = file_stream_source(spark, dirs["imp"], "parquet", parse_fields(SCHEMA))
    clk = file_stream_source(spark, dirs["clk"], "parquet", parse_fields(SCHEMA))
    joined = interval_join_stream(
        imp, clk, on=["user_id"], lower_seconds=0, upper_seconds=3600,
        watermark="10 minutes",
    )
    rows = run_available_now(joined, str(tmp_path / "ckpt_ij"))
    got = sorted((r.user_id, r.value, r.r_value) for r in rows)
    assert got == [(1, 10.0, 1.0), (1, 11.0, 2.0)]


def test_merge_stream_into_table(spark, tmp_path):
    """foreachBatch CDC merge: a change stream lands in a merge-on-key
    table; later files win, within-batch duplicates collapse to one
    row per key before the upsert."""
    from aqueducts_spark.delta.protocol import DeltaProtocolTable
    from aqueducts_spark.streaming import file_stream_source, merge_stream_into_table

    table = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
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
    merge_stream_into_table(
        stream, table, ["user_id"], str(tmp_path / "ck1")
    )
    assert sorted((r.user_id, r.value) for r in table.read().collect()) == [
        (1, 1.0), (2, 2.0),
    ]

    # second wave: update key 1, insert key 3 — new checkpoint dir not
    # needed; availableNow resumes from the same checkpoint
    spark.createDataFrame(
        [(1, 10.0), (3, 3.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = file_stream_source(spark, str(src), "parquet", parse_fields(schema))
    merge_stream_into_table(
        stream, table, ["user_id"], str(tmp_path / "ck1")
    )
    assert sorted((r.user_id, r.value) for r in table.read().collect()) == [
        (1, 10.0), (2, 2.0), (3, 3.0),
    ]


def test_merge_stream_order_col_last_change_wins(spark, tmp_path):
    """With order_col, within-batch CDC changes resolve to the row with
    the max sequence — not an arbitrary md5 winner."""
    from aqueducts_spark.delta.protocol import DeltaProtocolTable
    from aqueducts_spark.streaming import file_stream_source, merge_stream_into_table

    table = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
    table.create_if_absent(
        fields=parse_fields(
            [
                {"name": "user_id", "data_type": "int64", "nullable": False},
                {"name": "seq", "data_type": "int64"},
                {"name": "status", "data_type": "string"},
            ]
        ),
        partition_columns=[], table_properties={}, metadata={},
    )
    src = tmp_path / "cdc_src2"
    src.mkdir()
    schema = [
        {"name": "user_id", "data_type": "int64"},
        {"name": "seq", "data_type": "int64"},
        {"name": "status", "data_type": "string"},
    ]
    # one batch holds created(seq=1) then deleted(seq=2) for the same key
    spark.createDataFrame(
        [(1, 1, "created"), (1, 2, "deleted")],
        "user_id long, seq long, status string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = file_stream_source(spark, str(src), "parquet", parse_fields(schema))
    merge_stream_into_table(
        stream, table, ["user_id"], str(tmp_path / "ck2"), order_col="seq"
    )
    assert [(r.user_id, r.status) for r in table.read().collect()] == [(1, "deleted")]


def test_quantile_sketch_stream_matches_batch(spark, tmp_path):
    """Per-window streaming sketch == batch dd_sketch of the same
    window slice, and the extracted quantiles agree."""
    from aqueducts_spark.streaming import (
        file_stream_source,
        quantile_sketch_stream,
        run_available_now,
    )
    from aqueducts_spark.operators.sketch import dd_quantile, dd_sketch

    src = tmp_path / "q_src"
    rows = [
        (1, "2024-01-01 00:%02d:00" % (i % 60), float(10 + i)) for i in range(50)
    ] + [
        (1, "2024-01-01 01:%02d:00" % (i % 60), float(1000 + i)) for i in range(50)
    ]
    base = spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
        "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    base.write.mode("overwrite").parquet(str(src))

    stream = file_stream_source(spark, str(src), "parquet", parse_fields(SCHEMA))
    sk = quantile_sketch_stream(stream, "ts", "value", "1 hour")
    out = run_available_now(sk, str(tmp_path / "q_ckpt"), output_mode="complete")

    # streaming buckets for hour 0 == batch dd_sketch of hour-0 values
    got_h0 = sorted(
        (r.sgn, r.bucket, r.cnt)
        for r in out
        if r.window_start.strftime("%H") == "00"
    )
    want_h0 = sorted(
        (r.sgn, r.bucket, r.cnt)
        for r in dd_sketch(base.where("value < 1000"), [], "value").collect()
    )
    assert got_h0 == want_h0

    # and quantiles extracted from the streamed sketch are batch-equal
    stream_sk = spark.createDataFrame(
        [(r.sgn, r.bucket, r.cnt) for r in out if r.window_start.strftime("%H") == "01"],
        "sgn int, bucket long, cnt long",
    )
    est_stream = {r.q: r.est for r in dd_quantile(stream_sk, [], [0.5]).collect()}
    est_batch = {
        r.q: r.est
        for r in dd_quantile(
            dd_sketch(base.where("value >= 1000"), [], "value"), [], [0.5]
        ).collect()
    }
    assert est_stream == est_batch


def test_distinct_sketch_stream_matches_batch(spark, tmp_path):
    """Per-window streaming HLL registers == batch hll_sketch of the
    same window slice, and the extracted estimates agree."""
    from aqueducts_spark.streaming import (
        distinct_sketch_stream,
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.operators.sketch import hll_estimate, hll_sketch

    src = tmp_path / "h_src"
    # hour 0: 40 distinct users; hour 1: 200 distinct users (overlap 20)
    rows = [
        (i % 40, "2024-01-01 00:%02d:00" % (i % 60), 1.0) for i in range(120)
    ] + [
        (i % 200, "2024-01-01 01:%02d:00" % (i % 60), 1.0) for i in range(400)
    ]
    base = spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
        "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
    )
    base.write.mode("overwrite").parquet(str(src))

    stream = file_stream_source(spark, str(src), "parquet", parse_fields(SCHEMA))
    sk = distinct_sketch_stream(stream, "ts", "user_id", "1 hour", m=64)
    out = run_available_now(sk, str(tmp_path / "h_ckpt"), output_mode="complete")

    for hour, pred in (("00", "user_id < 40"), ("01", "user_id >= 0")):
        cond = "ts < '2024-01-01 01:00:00'" if hour == "00" else "ts >= '2024-01-01 01:00:00'"
        got = sorted(
            (r.reg, r.mx, r.m)
            for r in out
            if r.window_start.strftime("%H") == hour
        )
        want = sorted(
            (r.reg, r.mx, r.m)
            for r in hll_sketch(base.where(cond), [], "user_id", m=64).collect()
        )
        assert got == want, hour

    # estimates extracted from the streamed registers are batch-equal
    stream_sk = spark.createDataFrame(
        [
            (r.reg, r.mx, r.m)
            for r in out
            if r.window_start.strftime("%H") == "01"
        ],
        "reg int, mx int, m int",
    )
    est_stream = stream_sk.transform(lambda d: hll_estimate(d, [])).collect()
    est_batch = hll_estimate(
        hll_sketch(base.where("ts >= '2024-01-01 01:00:00'"), [], "user_id", m=64),
        [],
    ).collect()
    assert [tuple(r) for r in est_stream] == [tuple(r) for r in est_batch]


def test_url_dedup_stream_across_batches(spark, tmp_path):
    """Streaming twin of url_dedup: case/port/tracking variants of one
    page dedup across micro-batches; NULL urls all pass through."""
    import json

    from aqueducts_spark.streaming.ops import run_available_now, url_dedup_stream
    from aqueducts_spark.types import Field
    from aqueducts_spark.streaming.ops import file_stream_source

    src = tmp_path / "urls_in"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "url": "HTTPS://WWW.A.com/x/?b=1&utm_s=9"},
                {"doc_id": 2, "url": None},
            ]
        )
    )
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 3, "url": "https://a.com/x?b=1"},  # dup of 1
                {"doc_id": 4, "url": None},
                {"doc_id": 5, "url": "https://b.org/y"},
            ]
        )
    )
    stream = file_stream_source(
        spark,
        str(src),
        "json",
        [Field(name="doc_id", data_type="int64", nullable=False),
         Field(name="url", data_type="string", nullable=True)],
        options={"maxFilesPerTrigger": "1"},
    )
    rows = run_available_now(
        url_dedup_stream(stream), str(tmp_path / "ckpt"), output_mode="append"
    )
    kept = sorted(r.doc_id for r in rows)
    assert 1 in kept and 3 not in kept  # canonical dup dropped
    assert 2 in kept and 4 in kept      # NULL urls all survive
    assert 5 in kept


def test_dsir_score_stream_matches_batch_weights(spark, tmp_path):
    """Streaming scorer parity: per-doc logw_micro from the stream
    (pre-fitted λ in the mapInPandas closure) is bit-identical to the
    batch dsir_weights over the same documents and fit."""
    import json

    from aqueducts_spark.operators.selection import dsir_log_ratios, dsir_weights
    from aqueducts_spark.streaming.ops import (
        dsir_score_stream,
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    target = spark.createDataFrame(
        [(100, "the encyclopedia article describes the ancient city"),
         (101, "the article cites the primary historical sources")],
        "doc_id long, text string",
    )
    docs = [
        {"doc_id": 1, "text": "the article describes the ancient city"},
        {"doc_id": 2, "text": "buy cheap pills online now"},
        {"doc_id": 3, "text": "one"},      # 1-token partial-gram edge
        {"doc_id": 4, "text": ""},          # empty-doc edge
        {"doc_id": 5, "text": None},        # NULL text edge
        # non-ASCII whitespace: NBSP/thin-space are NOT token breaks in
        # either path (Java \s and trim are ASCII/space-only; the
        # stream must not strip() them away)
        {"doc_id": 6, "text": "  ancient city  "},
        # full Unicode case mapping edge (Turkish dotted capital I)
        {"doc_id": 7, "text": "İstanbul ARTICLE"},
        {"doc_id": 8, "text": "  padded   ancient  city  "},
    ]
    raw = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    ratios = dsir_log_ratios(target, raw, buckets=512).localCheckpoint(eager=True)
    batch = {
        r.doc_id: r.logw_micro
        for r in dsir_weights(raw, ratios=ratios, buckets=512).collect()
    }

    src = tmp_path / "dsir_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b2.json").write_text("\n".join(json.dumps(d) for d in docs[2:]))
    stream = file_stream_source(
        spark,
        str(src),
        "json",
        [Field(name="doc_id", data_type="int64", nullable=False),
         Field(name="text", data_type="string", nullable=True)],
        options={"maxFilesPerTrigger": "1"},
    )
    rows = run_available_now(
        dsir_score_stream(stream, ratios, buckets=512),
        str(tmp_path / "ckpt_dsir"),
        output_mode="append",
    )
    streamed = {r.doc_id: r.logw_micro for r in rows}
    assert streamed == batch
    # and the target-like doc outranks the spam-like one on the stream
    assert streamed[1] > streamed[2]


def test_stateless_operators_apply_directly_to_streams(spark, tmp_path):
    """gopher_rules and weighted_mix are row-local expressions, so the
    SAME operator works unchanged on a streaming frame — no dedicated
    streaming twin needed; results match the batch run bit-for-bit."""
    import json

    from aqueducts_spark.operators.mixing import weighted_mix
    from aqueducts_spark.operators.text import gopher_rules
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    docs = [
        {"doc_id": 1, "lang": "en",
         "text": "the quick brown fox jumps over the lazy dog and then "
                 "runs back home with all of the other animals that have "
                 "been waiting in the field while every one of them watches "
                 "the sun set slowly behind the hills before they finally "
                 "walk together toward the quiet village nearby"},
        {"doc_id": 2, "lang": "en", "text": "too short"},
        {"doc_id": 3, "lang": "de", "text": None},
    ]
    src = tmp_path / "stateless_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b2.json").write_text(json.dumps(docs[2]))
    schema = [
        Field(name="doc_id", data_type="int64", nullable=False),
        Field(name="lang", data_type="string", nullable=True),
        Field(name="text", data_type="string", nullable=True),
    ]
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["lang"], d["text"]) for d in docs],
        "doc_id long, lang string, text string",
    )

    stream = file_stream_source(
        spark, str(src), "json", schema,
        options={"maxFilesPerTrigger": "1"},
    )
    streamed_rules = run_available_now(
        gopher_rules(stream), str(tmp_path / "ckpt_gopher")
    )
    batch_rules = gopher_rules(batch_df).collect()
    key = lambda r: r.doc_id
    assert sorted(map(tuple, streamed_rules), key=lambda t: t[0]) == sorted(
        map(tuple, batch_rules), key=lambda t: t[0]
    )

    stream2 = file_stream_source(
        spark, str(src), "json", schema,
        options={"maxFilesPerTrigger": "1"},
    )
    streamed_mix = run_available_now(
        weighted_mix(stream2, "lang", "doc_id", {"en": 2.0, "de": 0.5}),
        str(tmp_path / "ckpt_mix"),
    )
    batch_mix = weighted_mix(
        batch_df, "lang", "doc_id", {"en": 2.0, "de": 0.5}
    ).collect()
    assert sorted(
        (r.doc_id, r.mix_copy) for r in streamed_mix
    ) == sorted((r.doc_id, r.mix_copy) for r in batch_mix)


def test_bpe_encode_streams_unchanged(spark, tmp_path):
    """bpe_encode's python path is a stateless mapInPandas — the SAME
    operator tokenizes a live stream unchanged, bit-identical to the
    batch run (the live-ingest tokenizer the docstring promises)."""
    import json

    from aqueducts_spark.operators.text import bpe_encode
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    docs = [
        {"doc_id": 1, "text": "the theme of the thesis"},
        {"doc_id": 2, "text": ""},
        {"doc_id": 3, "text": None},
    ]
    src = tmp_path / "bpe_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b2.json").write_text(json.dumps(docs[2]))
    schema = [
        Field(name="doc_id", data_type="int64", nullable=False),
        Field(name="text", data_type="string", nullable=True),
    ]
    merges = [("t", "h"), ("th", "e"), ("the", "</w>")]
    stream = file_stream_source(
        spark, str(src), "json", schema,
        options={"maxFilesPerTrigger": "1"},
    )
    streamed = run_available_now(
        bpe_encode(stream, merges, method="python"),
        str(tmp_path / "ckpt_bpe"),
    )
    batch = bpe_encode(
        spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in docs],
            "doc_id long, text string",
        ),
        merges,
        method="python",
    ).collect()
    assert sorted((r.doc_id, tuple(r.tokens), r.n_tokens) for r in streamed) \
        == sorted((r.doc_id, tuple(r.tokens), r.n_tokens) for r in batch)


def test_round5_stateless_operators_stream_unchanged(spark, tmp_path):
    """normalize_text and script_profile are row-local expressions —
    the SAME operators run unchanged on a streaming frame, matching the
    batch results bit-for-bit (the gopher_rules/weighted_mix principle
    extended to the round-5 additions)."""
    import json

    from aqueducts_spark.operators.text import normalize_text, script_profile
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    docs = [
        {"doc_id": 1, "text": "Héllo,  WÖRLD  Çafé"},
        {"doc_id": 2, "text": "Привет мир кириллица"},
        {"doc_id": 3, "text": None},
    ]
    src = tmp_path / "r5_stateless_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b2.json").write_text(json.dumps(docs[2]))
    schema = [
        Field(name="doc_id", data_type="int64", nullable=False),
        Field(name="text", data_type="string", nullable=True),
    ]
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    for name, op in (
        ("norm", lambda df: normalize_text(df, strip_punct=True)),
        ("script", script_profile),
    ):
        stream = file_stream_source(
            spark, str(src), "json", schema,
            options={"maxFilesPerTrigger": "1"},
        )
        streamed = run_available_now(
            op(stream), str(tmp_path / f"ckpt_r5_{name}")
        )
        batch = op(batch_df).collect()
        assert sorted(map(tuple, streamed), key=lambda t: t[0]) == sorted(
            map(tuple, batch), key=lambda t: t[0]
        ), name


def test_hamming_filter_streams_unchanged(spark, tmp_path):
    """perceptual_hash (stateless mapInPandas) + hamming_filter (one
    stream-static broadcast anti-join) run UNCHANGED on a stream — the
    live-ingest image near-dup filter, bit-identical to the batch run."""
    import base64
    import json

    from aqueducts_spark.operators.dedup import hamming_filter
    from aqueducts_spark.operators.multimodal import perceptual_hash
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field
    from pyspark.sql import functions as F

    payloads = [
        (1, bytes(range(100, 200))),           # dup of index entry
        (2, bytes([100, 99]) + bytes(range(102, 200))),  # near-dup
        (3, bytes(reversed(range(100)))),      # novel -> kept
        (4, b"another novel payload entirely"),
    ]
    src = tmp_path / "hf_in"
    src.mkdir()
    for i, (pid, data) in enumerate(payloads):
        (src / f"b{i}.json").write_text(
            json.dumps({"doc_id": pid, "b64": base64.b64encode(data).decode()})
        )
    schema = [
        Field(name="doc_id", data_type="int64", nullable=False),
        Field(name="b64", data_type="string", nullable=True),
    ]
    index_df = spark.createDataFrame(
        [(0, bytes(range(100, 200)))], "doc_id long, data binary"
    )
    index = perceptual_hash(index_df, "data", "doc_id", codec="fake").select(
        "phash"
    )

    def pipeline(df):
        decoded = df.withColumn("data", F.unbase64("b64"))
        sigs = perceptual_hash(decoded, "data", "doc_id", codec="fake")
        return hamming_filter(
            sigs, index, sig_col="phash", max_hamming=10, sig_bits=56
        )

    stream = file_stream_source(
        spark, str(src), "json", schema,
        options={"maxFilesPerTrigger": "1"},
    )
    streamed = run_available_now(pipeline(stream), str(tmp_path / "ckpt_hf"))
    batch = pipeline(
        spark.createDataFrame(
            [(pid, base64.b64encode(d).decode()) for pid, d in payloads],
            "doc_id long, b64 string",
        )
    ).collect()
    assert sorted((r.doc_id, r.phash) for r in streamed) == sorted(
        (r.doc_id, r.phash) for r in batch
    )
    assert sorted(r.doc_id for r in batch) == [3, 4]


def test_weighted_sample_streams_unchanged(spark, tmp_path):
    """weighted_sample is a pure per-row filter — the SAME operator runs
    unchanged on a streaming frame, keeping exactly the rows the batch
    run keeps (the live-ingest soft-dedup application)."""
    import json

    from aqueducts_spark.operators.sampling import weighted_sample
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    rows = [{"doc_id": i, "w": [1.0, 0.0, 0.5][i % 3]} for i in range(60)]
    src = tmp_path / "ws_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[:30]))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows[30:]))
    schema = [
        Field(name="doc_id", data_type="int64", nullable=False),
        Field(name="w", data_type="float64", nullable=True),
    ]
    stream = file_stream_source(
        spark, str(src), "json", schema,
        options={"maxFilesPerTrigger": "1"},
    )
    streamed = run_available_now(
        weighted_sample(stream, "doc_id", "w"), str(tmp_path / "ckpt_ws")
    )
    batch = weighted_sample(
        spark.createDataFrame([(r["doc_id"], r["w"]) for r in rows], "doc_id long, w double"),
        "doc_id",
        "w",
    ).collect()
    assert sorted(r.doc_id for r in streamed) == sorted(r.doc_id for r in batch)
    kept = {r.doc_id for r in batch}
    assert all(i in kept for i in range(0, 60, 3))      # w=1 always kept
    assert all(i not in kept for i in range(1, 60, 3))  # w=0 never


def test_distinct_sketch_stream_reserved_group_rejected(spark):
    from aqueducts_spark.streaming.ops import distinct_sketch_stream

    df = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("timestamp AS ts", "value AS v", "'x' AS mx")
    )
    import pytest

    with pytest.raises(ValueError, match="reserved"):
        distinct_sketch_stream(df, "ts", "v", "1 minute", group_by=["mx"])


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Bounded-state dedup: duplicates within the horizon are dropped
    across micro-batches; state evicts with the watermark."""
    from aqueducts_spark.streaming import (
        dedup_stream_within_watermark,
        file_stream_source,
        run_available_now,
    )

    src = tmp_path / "wmdedup_src"
    b1 = [(1, "2024-01-01 00:01:00", 1.0), (2, "2024-01-01 00:02:00", 2.0)]
    b2 = [(1, "2024-01-01 00:03:00", 9.0), (3, "2024-01-01 00:04:00", 3.0)]
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, ["user_id", "ts_str", "value"]).select(
            "user_id", F.to_timestamp("ts_str").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = file_stream_source(
        spark, str(src), "parquet", parse_fields(SCHEMA),
        options={"maxFilesPerTrigger": "1"},
    )
    out = dedup_stream_within_watermark(stream, ["user_id"], "ts", "1 hour")
    rows = run_available_now(out, str(tmp_path / "ckpt_wmdedup"))
    by_user = {r.user_id: r.value for r in rows}
    # user 1's duplicate at 00:03 falls inside the 1h horizon of its
    # 00:01 first arrival -> dropped; the first arrival's value wins
    assert by_user == {1: 1.0, 2: 2.0, 3: 3.0}


def test_dedup_stream_within_watermark_validation(spark, stream_dir):
    from aqueducts_spark.streaming import (
        dedup_stream_within_watermark,
        file_stream_source,
    )

    stream = file_stream_source(spark, stream_dir, "parquet", parse_fields(SCHEMA))
    with pytest.raises(ValueError, match="non-empty"):
        dedup_stream_within_watermark(stream, [], "ts", "1 hour")
    with pytest.raises(ValueError, match="not in the stream"):
        dedup_stream_within_watermark(stream, ["nope"], "ts", "1 hour")


def test_kn_score_stream_matches_batch_score(spark, tmp_path):
    """Streaming KN scorer parity: per-doc (n_tokens, nll_micro,
    avg_nll) from the stream (bounded model dict in the mapInPandas
    closure) equals the batch kn_bigram_score over the same documents
    and the same external fit — including OOV words, unseen prefixes,
    token-less docs (no row on either path), and non-ASCII-whitespace
    inputs the batch tokenizer does not break on."""
    import json

    from aqueducts_spark.operators.text import kn_bigram_fit, kn_bigram_score
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        kn_score_stream,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    ref = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),
            (101, "the dog sat on the rug"),
            (102, "a cat sat on a rug"),
        ],
        "doc_id long, text string",
    )
    model = kn_bigram_fit(ref).localCheckpoint(eager=True)
    docs = [
        {"doc_id": 1, "text": "the cat sat on the rug"},   # in-model
        {"doc_id": 2, "text": "the zebra sat"},            # OOV + unseen bigram
        {"doc_id": 3, "text": "qqq zzz"},                  # all OOV
        {"doc_id": 4, "text": "one"},                      # single token
        {"doc_id": 5, "text": ""},                         # no row
        {"doc_id": 6, "text": None},                       # no row
        {"doc_id": 7, "text": "  the cat  sat  "},    # NBSP not a break
        {"doc_id": 8, "text": "THE CAT Sat"},              # case fold
    ]
    raw = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    batch = {
        r.doc_id: (r.n_tokens, r.nll_micro, r.avg_nll)
        for r in kn_bigram_score(raw, model).collect()
    }

    src = tmp_path / "kn_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:3]))
    (src / "b2.json").write_text("\n".join(json.dumps(d) for d in docs[3:]))
    stream = file_stream_source(
        spark,
        str(src),
        "json",
        [Field(name="doc_id", data_type="int64", nullable=False),
         Field(name="text", data_type="string", nullable=True)],
        options={"maxFilesPerTrigger": "1"},
    )
    rows = run_available_now(
        kn_score_stream(stream, model),
        str(tmp_path / "ckpt_kn"),
        output_mode="append",
    )
    streamed = {r.doc_id: (r.n_tokens, r.nll_micro, r.avg_nll) for r in rows}
    assert streamed == batch
    assert 5 not in streamed and 6 not in streamed  # token-less: no row
    # fluent-in-model text beats OOV salad on the stream too
    assert streamed[1][2] < streamed[3][2]


def test_kn_score_stream_validation(spark):
    import pytest as _pytest

    from aqueducts_spark.streaming.ops import kn_score_stream

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    bad = spark.createDataFrame([(1,)], "x long")
    with _pytest.raises(ValueError, match="missing 'w1'"):
        kn_score_stream(df, bad)
    no_vocab = spark.createDataFrame(
        [("a", "b", 1)], "w1 string, w2 string, ct long"
    )
    with _pytest.raises(ValueError, match="no unigram rows"):
        kn_score_stream(df, no_vocab)
    good = spark.createDataFrame(
        [("a", None, 1), ("a", "b", 1)], "w1 string, w2 string, ct long"
    )
    with _pytest.raises(ValueError, match="max_model_rows"):
        kn_score_stream(df, good, max_model_rows=1)
    with _pytest.raises(ValueError, match="discount"):
        kn_score_stream(df, good, discount=0.0)


def test_kn_score_stream_clash_and_shard_union(spark, tmp_path):
    """Output-name clash raises; an unmerged shard-union model scores
    like the batch operator over the same union."""
    import pytest as _pytest

    from aqueducts_spark.operators.text import kn_bigram_fit, kn_bigram_score
    from aqueducts_spark.streaming.ops import kn_score_stream

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug"),
         (3, "a cat on a rug"), (4, "qqq zzz the cat")],
        "doc_id long, text string",
    )
    clash = docs.withColumn("n_tokens", docs.doc_id)
    model = kn_bigram_fit(docs.where("doc_id % 2 = 0"))
    with _pytest.raises(ValueError, match="already exist"):
        kn_score_stream(clash, model)
    union = kn_bigram_fit(docs.where("doc_id = 1")).unionByName(
        kn_bigram_fit(docs.where("doc_id = 2"))
    ).localCheckpoint(eager=True)
    batch = {
        r.doc_id: (r.n_tokens, r.nll_micro)
        for r in kn_bigram_score(docs, union).collect()
    }
    # mapInPandas works on a static frame too — same scoring path
    streamed = {
        r.doc_id: (r.n_tokens, r.nll_micro)
        for r in kn_score_stream(docs, union).collect()
    }
    assert streamed == batch


def test_tws_available_reports_reason():
    """The availability probe must say WHY when the successor stateful
    API cannot run (this container: pyspark 4 ships the Python API but
    not protobuf, so an import-probe of the operator alone would claim
    support and fail mid-stream)."""
    from aqueducts_spark.streaming.ops import tws_available

    ok, reason = tws_available()
    assert ok or reason  # never (False, "")
    if not ok:
        # unavailable must also be a LOUD construction-time error, not
        # a mid-stream one
        import pytest as _pytest

        from aqueducts_spark.streaming.ops import quota_stream_tws

        with _pytest.raises(RuntimeError, match="quota_stream_tws"):
            quota_stream_tws(None, ["user_id"], 1)


def test_quota_stream_tws_parity(spark, tmp_path):
    """transformWithStateInPandas twin of quota_stream — runs wherever
    the runtime supports it (needs protobuf; skipped in this container)
    and must match the applyInPandasWithState operator row-for-row."""
    import pytest as _pytest

    from aqueducts_spark.streaming.ops import tws_available

    ok, reason = tws_available()
    if not ok:
        _pytest.skip(reason)
    from aqueducts_spark.streaming import (
        file_stream_source,
        quota_stream,
        run_available_now,
    )
    from aqueducts_spark.streaming.ops import quota_stream_tws

    path = _two_batch_dir(spark, tmp_path)

    def drain(op, ck):
        stream = file_stream_source(
            spark, path, "parquet", parse_fields(SCHEMA),
            options={"maxFilesPerTrigger": "1"},
        )
        rows = run_available_now(op(stream, ["user_id"], 1), str(tmp_path / ck))
        return sorted((r.user_id, r.value) for r in rows)

    assert drain(quota_stream_tws, "ckpt_tws") == drain(quota_stream, "ckpt_gs")
