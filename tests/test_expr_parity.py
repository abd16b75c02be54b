"""Construction parity for the r11 one-parse (F.expr) fast paths.

The str-input forms of word_ngrams_col / _kn_events / _gram_buckets and the
SQL-rendered internals of _doc_term_tf exist purely to cut driver-side
py4j round-trips (~0.4 s per word_ngrams_col(n=13) call); they must
build the SAME expression tree the Column forms build.  These tests pin
result AND schema equality over the tricky corpus shapes (empty, short,
exactly-n, long, unicode, NULL text, NULL elements).
"""
from pyspark.sql import functions as F


def _tok_df(spark):
    rows = [
        ("",),
        ("   ",),
        ("one",),
        ("one two",),
        ("a b c d e f g h i j k l m",),      # exactly 13 tokens
        ("a b c d e f g h i j k l m n o p",),
        ("x " * 300,),
        ("ü é 漢 字 test dup dup dup",),
        (None,),
    ]
    from aqueducts_spark.operators.dedup import normalized_tokens

    return spark.createDataFrame(rows, "text string").select(
        normalized_tokens(F.col("text")).alias("tk")
    )


def test_word_ngrams_str_vs_column(spark):
    from aqueducts_spark.operators.dedup import (
        word_ngrams_col,
        word_shingles_col,
    )

    df = _tok_df(spark)
    for n in (2, 3, 8, 13):
        a = df.select(word_ngrams_col(F.col("tk"), n).alias("g"))
        b = df.select(word_ngrams_col("tk", n).alias("g"))
        assert a.schema == b.schema
        assert a.collect() == b.collect(), f"n={n}"
        sa = df.select(word_shingles_col(F.col("tk"), n).alias("g"))
        sb = df.select(word_shingles_col("tk", n).alias("g"))
        assert sa.collect() == sb.collect(), f"shingles n={n}"


def test_kn_event_helpers_str_vs_column(spark):
    """The one-parse KN event builder over orders 2 and 3 equals the
    Column-built tree (the first k-gram for each k < n, then the real
    n-grams) and a pure-Python replay of the same event list."""
    from aqueducts_spark.operators.dedup import word_ngrams_col
    from aqueducts_spark.operators.text import _kn_events

    df = _tok_df(spark)
    tk = F.col("tk")
    toks = [r.tk for r in df.collect()]
    for n in (2, 3):
        firsts = [
            F.slice(
                F.array(F.concat_ws(" ", F.slice(tk, 1, k))),
                1,
                F.least(F.greatest(F.size(tk) - (k - 1), F.lit(0)), F.lit(1)),
            )
            for k in range(1, n)
        ]
        grams = F.slice(
            word_ngrams_col(tk, n),
            1,
            F.greatest(F.size(tk) - (n - 1), F.lit(0)),
        )
        a = df.select(F.concat(*firsts, grams).alias("e"))
        b = df.select(_kn_events("tk", n).alias("e"))
        assert a.schema == b.schema
        got = [r.e for r in b.collect()]
        assert [r.e for r in a.collect()] == got, f"n={n}"
        want = [
            None if ts is None else
            [" ".join(ts[:k]) for k in range(1, n) if len(ts) >= k]
            + [" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)]
            for ts in toks
        ]
        assert got == want, f"n={n}"


def test_gram_buckets_str_vs_column(spark):
    from aqueducts_spark.operators.selection import _gram_buckets

    df = _tok_df(spark)
    a = df.select(_gram_buckets(F.col("tk"), 97).alias("b"))
    b = df.select(_gram_buckets("tk", 97).alias("b"))
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_doc_term_tf_matches_explode_groupby(spark):
    """The SQL-rendered RLE internals must still equal the classic
    explode + groupBy(id, term) — including NULL array elements, which
    get their own run (the ADVICE r10 null-safe boundary)."""
    from aqueducts_spark.operators.text import _doc_term_tf

    rows = [
        (1, ["b", "b", "a", "b"]),
        (2, ["x"]),
        (3, []),
        (4, None),
        (5, ["b", "a", None, "a", None]),
        (6, ["ü", "ü", "漢"]),
    ]
    df = spark.createDataFrame(rows, "id long, ev array<string>")
    got = (
        _doc_term_tf(df, "id", F.col("ev"))
        .orderBy("id", "gram")
        .collect()
    )
    ref = (
        df.select("id", F.explode("ev").alias("gram"))
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("id", "gram")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    # schema: tf stays BIGINT like the old count(*)
    assert dict(_doc_term_tf(df, "id", F.col("ev")).dtypes)["tf"] == "bigint"
