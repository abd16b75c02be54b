"""BPE tokenizer inference (operators/text.py::bpe_encode): apply a
trained merge table to the corpus, emitting token arrays + exact
counts.  Both engine paths (pure-expression and memoized mapInPandas)
must agree bit-for-bit with each other and with the pure-Python
reference that mirrors train_bpe's apply loop."""

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aqueducts_spark.operators.text import (
    bpe_encode,
    bpe_vocab,
    tokens_to_ids,
    train_bpe,
)


def _ref_encode(text, merges, end_marker="</w>"):
    """Pure-Python reference: the same word normalization and greedy
    whole-symbol merge application as train_bpe's inner loop."""
    out = []
    for w in (text or "").lower().split():
        w = w.replace("\x1f", "")
        if not w:
            continue
        syms = list(w) + ([end_marker] if end_marker is not None else [])
        for a, b in merges:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [a + b]
                else:
                    i += 1
        out.extend(syms)
    return out


MERGES = [("t", "h"), ("th", "e"), ("the", "</w>"), ("e", "s")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("method", ["expr", "python"])
def test_known_vectors(spark, method):
    df = _df(
        spark,
        [
            (1, "the theme of the thesis"),
            (2, "  THE the "),   # case-folded, edge whitespace
            (3, None),           # NULL text behaves like empty
            (4, ""),
            (5, "a\x1f b"),      # reserved separator stripped from words
        ],
    )
    got = {
        r.doc_id: (r.tokens, r.n_tokens)
        for r in bpe_encode(df, MERGES, method=method).collect()
    }
    exp1 = ["the</w>", "the", "m", "e", "</w>", "o", "f", "</w>",
            "the</w>", "the", "s", "i", "s", "</w>"]
    assert got[1] == (exp1, 14)
    assert got[2] == (["the</w>", "the</w>"], 2)
    assert got[3] == ([], 0)
    assert got[4] == ([], 0)
    assert got[5] == (["a", "</w>", "b", "</w>"], 4)


@pytest.mark.parametrize("method", ["expr", "python"])
def test_matches_python_reference_and_trainer_roundtrip(spark, method):
    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6)
    df = _df(spark, [(1, corpus), (2, "lowest newcomer"), (3, "wide")])
    merges = train_bpe(df, n_merges=6)
    got = {
        r.doc_id: list(r.tokens)
        for r in bpe_encode(df, merges, method=method).collect()
    }
    texts = {1: corpus, 2: "lowest newcomer", 3: "wide"}
    for i, t in texts.items():
        assert got[i] == _ref_encode(t, merges), i


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_property_paths_agree(spark, data):
    # random corpora over a small alphabet (so merges actually fire) and
    # random merge tables, including rules referencing symbols that
    # other rules create — sequential application is the pinned semantic
    alpha = "abc"
    texts = data.draw(
        st.lists(
            st.text(alphabet=alpha + "  ", max_size=24),
            min_size=1,
            max_size=5,
        )
    )
    sym = st.text(alphabet=alpha, min_size=1, max_size=2)
    merges = data.draw(
        st.lists(st.tuples(sym, sym), max_size=5)
    )
    end_marker = data.draw(st.sampled_from(["</w>", None]))
    df = _df(spark, list(enumerate(texts)))
    exp = {
        i: _ref_encode(t, merges, end_marker) for i, t in enumerate(texts)
    }
    for method in ("expr", "python"):
        got = {
            r.doc_id: (list(r.tokens), r.n_tokens)
            for r in bpe_encode(
                df, merges, method=method, end_marker=end_marker
            ).collect()
        }
        assert got == {i: (t, len(t)) for i, t in exp.items()}, method
    _assert_id_arms_agree(
        bpe_encode(df, merges, method="python", end_marker=end_marker),
        bpe_vocab(df, merges, end_marker=end_marker),
        exp,
    )


def _assert_id_arms_agree(enc, vocab, exp):
    """The fused encode->ids pass, the composed udf (``select("*")``
    drops the fusion hook) and the join path all give ``vocab[t]`` for
    every expected token ``t``."""
    vmap = {r.token: r.token_id for r in vocab.collect()}
    want = {i: [vmap[t] for t in toks] for i, toks in exp.items()}
    arms = {
        "fused": tokens_to_ids(enc, vocab),
        "udf": tokens_to_ids(enc.select("*"), vocab),
        "join": tokens_to_ids(enc, vocab, method="join"),
    }
    for arm, out in arms.items():
        got = {r.doc_id: list(r.token_ids) for r in out.collect()}
        assert got == want, arm


@pytest.mark.parametrize("method", ["expr", "python"])
def test_reconstruction_invariant(spark, method):
    # concatenating a word's tokens (marker stripped) rebuilds the word:
    # merges re-segment, they never change bytes
    df = _df(spark, [(1, "the quick brown fox the end")])
    r = bpe_encode(df, MERGES, method=method).collect()[0]
    joined = "".join(r.tokens).replace("</w>", " ").strip()
    assert joined == "the quick brown fox the end"


def test_keep_cols_and_options(spark):
    df = spark.createDataFrame(
        [(1, "en", "the cat")], "doc_id long, lang string, text string"
    )
    r = bpe_encode(df, MERGES, keep_cols=["lang"]).collect()[0]
    assert r.lang == "en" and r.n_tokens == len(r.tokens)
    # end_marker=None: plain character segmentation, no boundary symbol
    r = bpe_encode(df, [("c", "a")], end_marker=None).collect()[0]
    assert list(r.tokens) == ["t", "h", "e", "ca", "t"]


def test_validation(spark):
    df = _df(spark, [(1, "x")])
    with pytest.raises(ValueError, match="method"):
        bpe_encode(df, MERGES, method="rust")
    with pytest.raises(ValueError, match="pair"):
        bpe_encode(df, [("a",)])
    with pytest.raises(ValueError, match="already exist"):
        bpe_encode(df.withColumnRenamed("text", "n_tokens"), MERGES)
    with pytest.raises(ValueError, match="max_expr_merges"):
        bpe_encode(
            df, [("a", "b")] * 5, method="expr", max_expr_merges=3
        )
    # auto switches to the python path beyond 32 rules instead of erroring
    many = [(f"x{i}", "y") for i in range(40)]
    plan = (
        bpe_encode(df, many, method="auto")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan


def test_zero_shuffle_plans(spark):
    df = _df(spark, [(1, "the cat sat")])
    expr_plan = (
        bpe_encode(df, MERGES, method="expr")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in expr_plan, expr_plan
    assert "EvalPython" not in expr_plan and "MapInPandas" not in expr_plan
    py_plan = (
        bpe_encode(df, MERGES, method="python")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in py_plan, py_plan


@pytest.mark.parametrize("method", ["expr", "python"])
def test_with_counts_columns(spark, method):
    df = _df(spark, [(1, "the cat"), (2, ""), (3, None)])
    got = {
        r.doc_id: (r.n_tokens, r.n_words, r.n_chars)
        for r in bpe_encode(
            df, MERGES, method=method, with_counts=True
        ).collect()
    }
    # "the" -> [the</w>] (1); "cat" -> [c,a,t,</w>] (4)
    assert got == {1: (5, 2, 6), 2: (0, 0, 0), 3: (0, 0, 0)}
    # opt-in: default output has no count columns (corpus schemas often
    # carry their own n_chars — the testdata documents table does)
    cols = bpe_encode(df, MERGES, method=method).columns
    assert "n_words" not in cols and "n_chars" not in cols
    with pytest.raises(ValueError, match="n_chars"):
        bpe_encode(
            df.withColumnRenamed("text", "n_chars"),
            MERGES,
            text_col="n_chars",
            with_counts=True,
        )


def test_tokenizer_fertility(spark):
    from aqueducts_spark.operators.text import tokenizer_fertility

    df = spark.createDataFrame(
        [
            (1, "en", "the thesis"),       # 2 words, 10 chars
            (2, "en", "the"),              # 1 word, 3 chars
            (3, "de", "das das das"),      # 3 words, 9 chars
            (4, "de", None),               # no words
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r.lang: (
            r.n_docs, r.ws_tokens, r.bpe_tokens, r.n_chars,
            r.fertility, r.chars_per_token,
        )
        for r in tokenizer_fertility(df, MERGES, group_col="lang").collect()
    }
    # en: "the"->[the</w>] (1); "thesis"->[the,s,i,s,</w>] (5)
    assert got["en"] == (2, 3, 7, 12, round(7 / 3, 6), round(12 / 7, 6))
    # de: "das" -> [d,a,s,</w>] (4 tokens) x3
    assert got["de"] == (2, 3, 12, 9, 4.0, 0.75)
    # ungrouped: one global row with the same sums
    g = tokenizer_fertility(df, MERGES).collect()[0]
    assert (g.n_docs, g.ws_tokens, g.bpe_tokens) == (4, 6, 19)
    # zero-word corpus: ratios are NULL, not a division error
    z = tokenizer_fertility(
        spark.createDataFrame([(1, "x", None)], "doc_id long, lang string, text string"),
        MERGES,
        group_col="lang",
    ).collect()[0]
    assert z.fertility is None and z.chars_per_token is None


def test_registry_stage(spark):
    from aqueducts_spark.operators.registry import run_operator

    spark.createDataFrame(
        [(1, "the thesis")], "doc_id long, text string"
    ).createOrReplaceTempView("bpe_docs")
    out = run_operator(
        spark,
        {
            "type": "bpe_encode",
            "input": "bpe_docs",
            "options": {"merges": [["t", "h"], ["th", "e"]]},
        },
    ).collect()[0]
    assert list(out.tokens) == ["the", "</w>", "the", "s", "i", "s", "</w>"]
    assert out.n_tokens == 7
    spark.catalog.dropTempView("bpe_docs")


# --- bpe_vocab / tokens_to_ids (the id-assignment half) --------------------


def test_bpe_vocab_layout(spark):
    """Alphabet sorted by code point first (incl. end_marker), then
    merge products in merge order, first occurrence winning."""
    from aqueducts_spark.operators.text import bpe_vocab

    df = spark.createDataFrame([(1, "ba ab")], "doc_id long, text string")
    merges = [("a", "b"), ("b", "a"), ("a", "b")]  # dup product 'ab' once
    rows = sorted(
        bpe_vocab(df, merges).collect(), key=lambda r: r.token_id
    )
    toks = [r.token for r in rows]
    assert toks == ["</w>", "a", "b", "ab", "ba"]
    assert [r.token_id for r in rows] == [0, 1, 2, 3, 4]


def test_bpe_vocab_merge_product_matching_alphabet_not_duplicated(spark):
    from aqueducts_spark.operators.text import bpe_vocab

    df = spark.createDataFrame([(1, "xy")], "doc_id long, text string")
    # end_marker 'y' collides with an alphabet char; product 'xy' is new
    rows = sorted(
        bpe_vocab(df, [("x", "y")], end_marker="y").collect(),
        key=lambda r: r.token_id,
    )
    assert [r.token for r in rows] == ["x", "y", "xy"]


def test_tokens_to_ids_paths_agree_and_roundtrip(spark):
    from aqueducts_spark.operators.text import (
        bpe_encode,
        bpe_vocab,
        tokens_to_ids,
    )

    docs = [
        (1, "the theme of the thesis"),
        (2, ""),
        (3, None),
        (4, "thesis theme"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [("t", "h"), ("th", "e"), ("the", "</w>")]
    vocab = bpe_vocab(df, merges)
    enc = bpe_encode(df, merges)
    by_id = {}
    for m in ("udf", "join"):
        got = {
            r.doc_id: r.token_ids
            for r in tokens_to_ids(enc, vocab, method=m).collect()
        }
        by_id[m] = got
    assert by_id["udf"] == by_id["join"]
    assert by_id["udf"][2] == [] == by_id["udf"][3] and by_id["udf"][4] != []
    # round-trip: ids -> tokens reproduces bpe_encode's output exactly
    vmap = {r.token_id: r.token for r in vocab.collect()}
    enc_toks = {r.doc_id: list(r.tokens) for r in enc.collect()}
    for did, ids in by_id["udf"].items():
        assert [vmap[i] for i in ids] == enc_toks[did], did


def test_tokens_to_ids_oov(spark):
    import pytest

    from aqueducts_spark.operators.text import tokens_to_ids

    df = spark.createDataFrame(
        [(1, ["a", "zz"])], "doc_id long, tokens array<string>"
    )
    vocab = spark.createDataFrame([("a", 0)], "token string, token_id int")
    for m in ("udf", "join"):
        with pytest.raises(Exception) as exc:
            tokens_to_ids(df, vocab, method=m).collect()
        assert "not in vocab" in str(exc.value)
        got = tokens_to_ids(df, vocab, method=m, unk_id=-1).collect()
        assert got[0].token_ids == [0, -1]


def test_tokens_to_ids_zero_shuffle_udf_path(spark):
    from aqueducts_spark.operators.text import tokens_to_ids

    df = spark.createDataFrame(
        [(1, ["a"])], "doc_id long, tokens array<string>"
    )
    vocab = spark.createDataFrame([("a", 0)], "token string, token_id int")
    plan = (
        tokens_to_ids(df, vocab)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


def test_tokens_to_ids_join_path_rejects_null_and_dup_ids(spark):
    """The join path keys sequences on the id — NULL keys would drop a
    doc's tokens, duplicates would merge two docs' sequences; both now
    raise (the udf path is row-local and keeps working)."""
    import pytest

    from aqueducts_spark.operators.text import tokens_to_ids

    vocab = spark.createDataFrame(
        [("a", 0), ("b", 1)], "token string, token_id int"
    )
    nul = spark.createDataFrame(
        [(None, ["a", "b"]), (2, ["a"])], "doc_id long, tokens array<string>"
    )
    dup = spark.createDataFrame(
        [(1, ["a"]), (1, ["b"])], "doc_id long, tokens array<string>"
    )
    for bad in (nul, dup):
        with pytest.raises(Exception) as exc:
            tokens_to_ids(bad, vocab, method="join").collect()
        assert "unique and non-NULL" in str(exc.value)
        # udf path: row-local, no id contract
        out = tokens_to_ids(bad, vocab, method="udf").collect()
        assert sorted(tuple(r.token_ids) for r in out) in (
            [(0,), (0, 1)],
            [(0,), (1,)],
        )


def test_bpe_vocab_alphabet_ignores_rare_words(spark):
    """A character appearing only in below-min_count words must still be
    in the vocab — bpe_encode has no frequency cut, so the induced
    vocab must cover every token it can emit (the trainer's min_count
    trims merge LEARNING, not the alphabet)."""
    from aqueducts_spark.operators.text import (
        bpe_encode,
        bpe_vocab,
        tokens_to_ids,
    )

    df = spark.createDataFrame(
        [(1, "aa aa b")], "doc_id long, text string"
    )
    vocab = bpe_vocab(df, [("a", "a")])
    toks = {r.token for r in vocab.collect()}
    assert "b" in toks
    # end-to-end: the chain must not raise OOV on its own corpus
    ids = tokens_to_ids(bpe_encode(df, [("a", "a")]), vocab).collect()
    assert len(ids[0].token_ids) > 0


def test_tokens_to_ids_fused_matches_composed(spark):
    """bpe_encode -> tokens_to_ids fuses into ONE mapInPandas when the
    encode output is passed through unmodified; the fused pass must be
    bit-equal to the composed two-pass form (forced by stripping the
    fusion attribute with a select), including keep_cols drawn from
    both the source row and the encode byproducts, unicode text, and
    unk_id mapping on fresh data."""
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.text import (
        bpe_encode,
        bpe_vocab,
        tokens_to_ids,
    )

    docs = [
        (1, "the theme Été café", "a"),
        (2, "", "b"),
        (3, None, "c"),
        (4, "th\x1fe the\ttheme\nthe", "d"),
        (5, "\U0001F600 the \U0001F600", "e"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, tag string")
    merges = [("t", "h"), ("th", "e"), ("the", "</w>")]
    vocab = bpe_vocab(df, merges)
    enc = bpe_encode(df, merges, keep_cols=["tag"], with_counts=True)
    assert getattr(enc, "_aq_bpe_fuse", None) is not None
    fused = tokens_to_ids(
        enc, vocab, keep_cols=["tag", "n_tokens", "n_chars"]
    )
    # single Python crossing: one MapInPandas, no ArrowEvalPython
    plan = fused._jdf.queryExecution().executedPlan().toString()
    head = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython" not in head and "EvalPython" not in head
    # composed form: same frame minus the fusion attribute
    stripped = enc.select(*enc.columns)
    assert getattr(stripped, "_aq_bpe_fuse", None) is None
    composed = tokens_to_ids(
        stripped, vocab, keep_cols=["tag", "n_tokens", "n_chars"]
    )
    k = lambda rows: sorted(map(tuple, rows))
    assert k(fused.collect()) == k(composed.collect())
    assert fused.columns == composed.columns
    assert fused.schema == composed.schema


def test_tokens_to_ids_fused_oov_and_unk(spark):
    import pytest

    from aqueducts_spark.operators.text import bpe_encode, tokens_to_ids

    df = spark.createDataFrame([(1, "ab zz")], "doc_id long, text string")
    vocab = spark.createDataFrame(
        [("a", 0), ("b", 1), ("</w>", 2)], "token string, token_id int"
    )
    enc = bpe_encode(df, [])
    with pytest.raises(Exception) as exc:
        tokens_to_ids(enc, vocab).collect()
    assert "not in vocab" in str(exc.value)
    got = tokens_to_ids(bpe_encode(df, []), vocab, unk_id=-1).collect()
    assert got[0].token_ids == [0, 1, 2, -1, -1, 2]


def test_bpe_vocab_unicode_and_whitespace_alphabet(spark):
    """The one-regexp-pass alphabet must equal the per-word character
    set: Java \\s whitespace excluded, \\x1f excluded, astral code
    points kept whole, text lowered."""
    from aqueducts_spark.operators.text import bpe_vocab

    df = spark.createDataFrame(
        [
            (1, "Ab\tC\nd \x1f e\x0b\x0c\r"),
            (2, "\U0001F600x"),
            (3, None),
            (4, "éÉ"),  # lowers to one distinct char
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        bpe_vocab(df, [("a", "b")]).collect(), key=lambda r: r.token_id
    )
    toks = [r.token for r in rows]
    assert toks == sorted(
        ["a", "b", "c", "d", "e", "x", "é", "\U0001F600", "</w>"]
    ) + ["ab"]


def test_tokens_to_ids_fusion_skipped_on_cached_frame(spark):
    """r11 (ADVICE r10 #4): persist() returns self, so the fusion hook
    survives caching — but the fused pass would re-execute the whole
    encode from the pre-encode source instead of reading the cached
    tokens.  A cached encode output must take the composed pandas_udf
    path (and still return identical rows)."""
    from aqueducts_spark.operators.text import bpe_encode, bpe_vocab, tokens_to_ids

    df = spark.createDataFrame(
        [(1, "the theme"), (2, "th e")], "doc_id long, text string"
    )
    merges = [("t", "h"), ("th", "e")]
    vocab = bpe_vocab(df, merges)
    enc = bpe_encode(df, merges)
    expected = sorted(map(tuple, tokens_to_ids(enc, vocab).collect()))
    cached = enc.persist()
    try:
        assert getattr(cached, "_aq_bpe_fuse", None) is not None
        out = tokens_to_ids(cached, vocab)
        # composed path: the cached tokens feed an ArrowEvalPython /
        # pandas UDF, no re-derivation from the raw text
        plan = out._jdf.queryExecution().executedPlan().toString()
        head = plan.split("== Initial Plan ==")[0]
        assert "InMemoryTableScan" in head, head
        assert sorted(map(tuple, out.collect())) == expected
    finally:
        cached.unpersist()
