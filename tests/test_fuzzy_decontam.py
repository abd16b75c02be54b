"""Fuzzy benchmark decontamination (operators/decontam.py::
minhash_overlap, fuzzy_decontaminate)."""

import pytest

from aqueducts_spark.operators.decontam import (
    fuzzy_decontaminate,
    minhash_overlap,
)

BASE = (
    "the quick brown fox jumps over the lazy dog again and again in the "
    "park before noon while the children watch from the old wooden bench"
)


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, BASE),                                   # exact benchmark copy
            (2, BASE.replace("lazy", "sleepy")),          # near-dup (1 token)
            (3, "completely different text about spark distributed compute"),
            (4, None),                                    # NULL text
            (5, ""),                                      # empty text
        ],
        "doc_id long, text string",
    )


def _bench(spark):
    return spark.createDataFrame(
        [(100, BASE)], "bench_key long, body string"
    )


def test_flags_exact_and_near_duplicates_with_exact_jaccard(spark):
    flags = {
        r.doc_id: (r.bench_id, r.jaccard)
        for r in minhash_overlap(
            _corpus(spark), _bench(spark),
            bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
        ).collect()
    }
    assert flags[1] == (100, 1.0)
    bench_id, j = flags[2]
    assert bench_id == 100 and 0.5 <= j < 1.0
    assert 3 not in flags and 4 not in flags and 5 not in flags


def test_threshold_gates_verified_pairs(spark):
    # at threshold just above doc 2's true jaccard only the exact copy
    # survives verification, even though LSH proposed both
    low = minhash_overlap(
        _corpus(spark), _bench(spark),
        bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
    )
    j2 = [r.jaccard for r in low.collect() if r.doc_id == 2][0]
    high = minhash_overlap(
        _corpus(spark), _bench(spark),
        bench_id_col="bench_key", bench_text_col="body",
        threshold=min(j2 + 0.01, 1.0),
    ).collect()
    assert {r.doc_id for r in high} == {1}


def test_fuzzy_decontaminate_drops_flagged_keeps_rest(spark):
    kept = fuzzy_decontaminate(
        _corpus(spark), _bench(spark),
        bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
    ).collect()
    assert sorted(r.doc_id for r in kept) == [3, 4, 5]


def test_null_corpus_ids_are_rejected(spark):
    # ADVICE r5: a NULL-id benchmark copy can neither be flagged by the
    # band join nor matched by the equi anti-join — instead of letting
    # it silently survive into training data, the inline raise_error
    # guard fails the job at the first NULL id
    corpus = spark.createDataFrame(
        [(None, BASE), (3, "unrelated text entirely")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="NULL 'doc_id' ids"):
        fuzzy_decontaminate(
            corpus, _bench(spark),
            bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
        ).collect()


def test_non_null_corpus_ids_pass_the_guard(spark):
    # the guard is a per-row codegen branch: a NULL-free corpus runs
    # through it untouched
    corpus = spark.createDataFrame(
        [(1, BASE), (3, "unrelated text entirely")],
        "doc_id long, text string",
    )
    kept = fuzzy_decontaminate(
        corpus, _bench(spark),
        bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
    ).collect()
    assert {r.doc_id for r in kept} == {3}


def test_validation(spark):
    with pytest.raises(ValueError, match="threshold"):
        minhash_overlap(_corpus(spark), _bench(spark),
                        bench_id_col="bench_key", bench_text_col="body",
                        threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        minhash_overlap(_corpus(spark), _bench(spark),
                        bench_id_col="bench_key", bench_text_col="body",
                        threshold=1.5)
    # benchmark NULL / duplicate ids would silently pool documents into
    # one union signature — rejected eagerly
    null_bench = spark.createDataFrame(
        [(None, BASE), (7, "x")], "bench_key long, body string"
    )
    with pytest.raises(ValueError, match="NULL"):
        minhash_overlap(_corpus(spark), null_bench,
                        bench_id_col="bench_key", bench_text_col="body",
                        threshold=0.5)
    dup_bench = spark.createDataFrame(
        [(7, BASE), (7, "x")], "bench_key long, body string"
    )
    with pytest.raises(ValueError, match="not\nunique|not unique"):
        minhash_overlap(_corpus(spark), dup_bench,
                        bench_id_col="bench_key", bench_text_col="body",
                        threshold=0.5)
    # an id_col colliding with an output name is rejected instead of
    # emitting duplicate columns
    with pytest.raises(ValueError, match="collides"):
        minhash_overlap(
            _corpus(spark).withColumnRenamed("doc_id", "bench_id"),
            _bench(spark), id_col="bench_id",
            bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
        )


def test_bench_id_error_surfaces_before_a_corpus_error(spark):
    """Duplicate benchmark ids are reported even when building the
    corpus side fails first (here a misspelt corpus text column): the
    background id check is read on every exit path."""
    from aqueducts_spark.operators.decontam import contamination_report

    dup_bench = spark.createDataFrame(
        [(7, BASE), (7, "x")], "bench_key long, body string"
    )
    with pytest.raises(ValueError, match="not unique"):
        minhash_overlap(_corpus(spark), dup_bench, text_col="txet",
                        bench_id_col="bench_key", bench_text_col="body")
    with pytest.raises(ValueError, match="must be unique"):
        contamination_report(_corpus(spark), dup_bench, text_col="txet",
                             bench_id_col="bench_key", bench_text_col="nobody")


def test_benchmark_side_joins_are_broadcast(spark):
    plan = (
        minhash_overlap(
            _corpus(spark), _bench(spark),
            bench_id_col="bench_key", bench_text_col="body", threshold=0.5,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the CORPUS-sized joins — band-bucket candidates and the shingle
    # intersection — must be broadcast, never shuffle joins (a
    # sort-merge between contamination-bounded relations downstream,
    # e.g. inter x size_a on doc_id, is fine: its volume is the
    # contamination, not the corpus)
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "band" not in line and "__s#" not in line, line


def test_registry_stage(spark):
    from aqueducts_spark.operators.registry import run_operator

    _corpus(spark).createOrReplaceTempView("fd_corpus")
    _bench(spark).selectExpr(
        "bench_key AS doc_id", "body AS text"
    ).createOrReplaceTempView("fd_bench")
    out = run_operator(
        spark,
        {
            "type": "fuzzy_decontaminate",
            "input": "fd_corpus",
            "options": {"benchmark": "fd_bench", "threshold": 0.5},
        },
    )
    assert sorted(r.doc_id for r in out.collect()) == [3, 4, 5]
    spark.catalog.dropTempView("fd_corpus")
    spark.catalog.dropTempView("fd_bench")


# ----------------------- rowwise / streaming twin -----------------------


def test_rowwise_band_keys_match_batch_band_table(spark):
    """explode(with_minhash_band_keys) must reproduce minhash_bands
    bit-for-bit on both hash paths (regression: a two-arg transform
    lambda silently received the ARRAY INDEX as the seed, collapsing
    every band to one value)."""
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.dedup import (
        minhash_bands,
        with_minhash_band_keys,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn in ("md5", "xxhash64"):
        batch = {
            (r.doc_id, f"{r.band}:{r.band_hash}")
            for r in minhash_bands(docs, hash_fn=fn).collect()
        }
        roww = {
            (r.doc_id, r.k)
            for r in with_minhash_band_keys(docs, hash_fn=fn)
            .select("doc_id", F.explode("band_keys").alias("k"))
            .collect()
        }
        assert batch == roww, fn
    # seeds must actually differ: a multi-shingle doc's bands are not
    # all identical
    keys = (
        with_minhash_band_keys(docs)
        .where(F.col("doc_id") == 0)
        .select("band_keys")
        .collect()[0][0]
    )
    assert len({k.split(":")[1] for k in keys}) > 1, keys


def test_rowwise_kept_set_matches_batch(spark):
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.decontam import (
        fuzzy_decontaminate_rowwise,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 17 == 0).select("doc_id", "text")
    a = sorted(
        r.doc_id
        for r in fuzzy_decontaminate(docs, bench, threshold=0.5).collect()
    )
    b = sorted(
        r.doc_id
        for r in fuzzy_decontaminate_rowwise(
            docs, bench, threshold=0.5
        ).collect()
    )
    assert a == b
    # output schema is the input schema — helpers dropped
    out_cols = fuzzy_decontaminate_rowwise(docs, bench, threshold=0.5).columns
    assert out_cols == docs.columns


def test_rowwise_runs_on_a_real_stream(spark, tmp_path):
    """The whole decontamination filter runs as ONE stateless
    stream-static anti-join — live-crawl ingestion shape."""
    import json

    from aqueducts_spark.operators.decontam import (
        fuzzy_decontaminate_rowwise,
    )
    from aqueducts_spark.streaming.ops import (
        file_stream_source,
        run_available_now,
    )
    from aqueducts_spark.types import Field

    docs = [
        {"doc_id": 1, "text": BASE},
        {"doc_id": 2, "text": BASE.replace("lazy", "sleepy")},
        {"doc_id": 3, "text": "completely unrelated text about streaming"},
        {"doc_id": 4, "text": None},
    ]
    src = tmp_path / "fz_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b2.json").write_text("\n".join(json.dumps(d) for d in docs[2:]))
    schema = [
        Field(name="doc_id", data_type="int64", nullable=False),
        Field(name="text", data_type="string", nullable=True),
    ]
    stream = file_stream_source(
        spark, str(src), "json", schema,
        options={"maxFilesPerTrigger": "1"},
    )
    bench = _bench(spark).selectExpr("body AS text")
    streamed = run_available_now(
        fuzzy_decontaminate_rowwise(stream, bench, threshold=0.5),
        str(tmp_path / "fz_ckpt"),
    )
    batch = fuzzy_decontaminate_rowwise(
        spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in docs],
            "doc_id long, text string",
        ),
        bench,
        threshold=0.5,
    ).collect()
    assert sorted(r.doc_id for r in streamed) == sorted(
        r.doc_id for r in batch
    ) == [3, 4]


def test_rowwise_batch_misuse_guard(spark, tmp_path):
    """VERDICT r5 next-steps #4: the rowwise twin is a per-row BNLJ
    over the benchmark by design — a batch frame must trigger a loud
    UserWarning naming the equi-join sibling, and the plan lint must
    flag the BroadcastNestedLoopJoin."""
    import json
    import warnings as pywarnings

    from aqueducts_spark.operators.decontam import (
        fuzzy_decontaminate_rowwise,
    )
    from aqueducts_spark.plans.inspect import lint_plan
    from aqueducts_spark.streaming.ops import file_stream_source
    from aqueducts_spark.types import Field

    bench = _bench(spark).selectExpr("body AS text")
    with pytest.warns(UserWarning, match="fuzzy_decontaminate"):
        out = fuzzy_decontaminate_rowwise(_corpus(spark), bench, threshold=0.5)
    # the lint rule fires on the executed plan independently
    assert any("BroadcastNestedLoopJoin" in w for w in lint_plan(out))
    # a streaming frame is the intended use: no warning
    src = tmp_path / "fz_guard_in"
    src.mkdir()
    (src / "b.json").write_text(json.dumps({"doc_id": 1, "text": "x"}))
    stream = file_stream_source(
        spark, str(src), "json",
        [Field(name="doc_id", data_type="int64", nullable=False),
         Field(name="text", data_type="string", nullable=True)],
    )
    with pywarnings.catch_warnings():
        pywarnings.simplefilter("error")
        fuzzy_decontaminate_rowwise(stream, bench, threshold=0.5)


def test_rowwise_validation_and_empty_inputs(spark):
    from aqueducts_spark.operators.decontam import (
        fuzzy_decontaminate_rowwise,
    )

    with pytest.raises(ValueError, match="threshold"):
        fuzzy_decontaminate_rowwise(_corpus(spark), _bench(spark).selectExpr("body AS text"), threshold=0)
    # empty benchmark: everything kept
    bench = spark.createDataFrame([], "text string")
    kept = fuzzy_decontaminate_rowwise(
        _corpus(spark), bench, threshold=0.5
    ).collect()
    assert len(kept) == 5


def test_minhash_overlap_registry_stage(spark):
    from aqueducts_spark.operators.registry import run_operator

    _corpus(spark).createOrReplaceTempView("fo_corpus")
    _bench(spark).selectExpr(
        "bench_key AS doc_id", "body AS text"
    ).createOrReplaceTempView("fo_bench")
    out = run_operator(
        spark,
        {
            "type": "minhash_overlap",
            "input": "fo_corpus",
            "options": {"benchmark": "fo_bench", "threshold": 0.5},
        },
    )
    got = {(r.doc_id, r.bench_id) for r in out.collect()}
    assert got == {(1, 100), (2, 100)}
    spark.catalog.dropTempView("fo_corpus")
    spark.catalog.dropTempView("fo_bench")


def test_validate_ids_rejects_duplicate_corpus_ids(spark):
    import pytest as _pytest

    dup = spark.createDataFrame(
        [(1, BASE), (1, BASE.replace("lazy", "sleepy")),
         (2, "other text entirely")],
        "doc_id long, text string",
    )
    with _pytest.raises(Exception) as exc:
        minhash_overlap(
            dup, _bench(spark),
            bench_id_col="bench_key", bench_text_col="body",
            threshold=0.1, validate_ids=True,
        ).collect()
    assert "duplicate ids" in str(exc.value)
    # documented-contract mode stays silent (backcompat)
    minhash_overlap(
        dup, _bench(spark),
        bench_id_col="bench_key", bench_text_col="body",
        threshold=0.1,
    ).collect()


def test_validate_ids_passes_unique_ids_and_matches_default(spark):
    base = minhash_overlap(
        _corpus(spark), _bench(spark),
        bench_id_col="bench_key", bench_text_col="body", threshold=0.1,
    )
    checked = minhash_overlap(
        _corpus(spark), _bench(spark),
        bench_id_col="bench_key", bench_text_col="body", threshold=0.1,
        validate_ids=True,
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, checked.collect())
    )


def test_fuzzy_decontaminate_forwards_validate_ids(spark):
    dup = spark.createDataFrame(
        [(1, BASE), (1, "other text one"), (2, "clean text")],
        "doc_id long, text string",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="duplicate ids"):
        fuzzy_decontaminate(
            dup, _bench(spark),
            bench_id_col="bench_key", bench_text_col="body",
            validate_ids=True,
        ).collect()


def test_validate_ids_string_false_binds_false(spark):
    """YAML `validate_ids: "false"` is False: bool("false") would have
    turned the duplicate-id check on."""
    from aqueducts_spark.operators.registry import run_operator

    spark.createDataFrame(
        [(1, BASE), (1, "other text one"), (2, "clean text")],
        "doc_id long, text string",
    ).createOrReplaceTempView("vi_corpus")
    _bench(spark).createOrReplaceTempView("vi_bench")
    stage = {
        "type": "fuzzy_decontaminate",
        "input": "vi_corpus",
        "options": {
            "benchmark": "vi_bench", "bench_id_col": "bench_key",
            "bench_text_col": "body", "validate_ids": "false",
        },
    }
    run_operator(spark, stage).collect()
    stage["options"]["validate_ids"] = "true"
    with pytest.raises(Exception, match="duplicate ids"):
        run_operator(spark, stage).collect()
    spark.catalog.dropTempView("vi_corpus")
    spark.catalog.dropTempView("vi_bench")
