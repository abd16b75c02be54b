"""Byte-level (GPT-2-style) BPE mode (operators/text.py, byte_level=True).

Covers: expr/python path bit-parity, the lossless round-trip property
(tokens concatenate back to the exact original text — the byte-level
guarantee word-level BPE cannot make), trainer determinism and its
consistency with bpe_pair_counts argmaxes, the fixed 256-byte vocab,
ids through tokens_to_ids with zero OOV on arbitrary text, fertility
units, pretokenizer agreement with the DuckDB oracle engine, and the
byte-mode argument validation (end_marker rejection, hex merge table).

Reference for WHAT byte-level BPE is: the public GPT-2 encoder
(gpt-2/src/encoder.py) / tiktoken lineage; symbols here are
lowercase-hex byte pairs instead of bytes_to_unicode printables so an
independent SQL engine rebuilds the identical symbol stream with
``lower(hex(encode(w)))``.
"""

import pytest
from pyspark.sql import functions as F

from aqueducts_spark.operators.text import (
    _BPE_BYTE_PAT,
    bpe_encode,
    bpe_pair_counts,
    bpe_vocab,
    tokenizer_fertility,
    tokens_to_ids,
    train_bpe,
)

DOCS = [
    (1, "Hello world, hello World!"),
    (2, "the thé thè  thé 123 12,5 don't it's we're"),
    (3, None),
    (4, ""),
    (5, "aaaa aaaa aaaa bbbb"),
    (6, "tab\tand\nnewline ①②③ mixed \U0001d49cstral \x1f sep"),
    (7, "  leading and trailing  "),
]
SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, SCHEMA)


@pytest.fixture(scope="module")
def merges(docs):
    return train_bpe(docs, n_merges=10, end_marker=None, byte_level=True)


def test_merges_are_hex_and_deterministic(docs, merges):
    assert merges == train_bpe(
        docs, n_merges=10, end_marker=None, byte_level=True
    )
    hexset = set("0123456789abcdef")
    for a, b in merges:
        assert set(a + b) <= hexset and len(a) % 2 == 0 and len(b) % 2 == 0


def test_expr_python_parity(docs, merges):
    kw = dict(end_marker=None, byte_level=True, with_counts=True)
    a = sorted(
        tuple(r)
        for r in bpe_encode(docs, merges, method="python", **kw).collect()
    )
    b = sorted(
        tuple(r)
        for r in bpe_encode(docs, merges, method="expr", **kw).collect()
    )
    assert a == b


def test_roundtrip_lossless(docs, merges):
    # every pretoken is a regex match and matches tile the text, so
    # unhex(concat(tokens)) must reproduce the original bytes exactly
    enc = bpe_encode(docs, merges, end_marker=None, byte_level=True)
    back = enc.select(
        "doc_id",
        F.decode(F.unhex(F.concat_ws("", "tokens")), "utf-8").alias("t"),
    )
    orig = {r.doc_id: (r.text or "") for r in docs.collect()}
    for r in back.collect():
        assert r.t == orig[r.doc_id]


def test_merges_actually_apply(docs, merges):
    # 'aaaa aaaa aaaa bbbb' drives ('61','61') and ('6161','6161'):
    # the encoded doc must contain the 4-byte token '61616161'
    enc = bpe_encode(docs, merges, end_marker=None, byte_level=True)
    toks = {r.doc_id: r.tokens for r in enc.collect()}
    assert "61616161" in "".join(toks[5]) and any(
        t == "61616161" or t.endswith("61616161") for t in toks[5]
    )
    assert toks[3] == [] and toks[4] == []


def test_trainer_consistent_with_pair_counts(docs, merges):
    # each trained merge is the argmax (count desc, pair asc) of the
    # pair table computed AFTER the previous merges — the same law the
    # word-level trainer pins
    for k in range(3):
        pc = bpe_pair_counts(
            docs, merges=merges[:k], end_marker=None, byte_level=True
        ).collect()
        best = min(
            ((-r.pair_count, (r.sym_left, r.sym_right)) for r in pc)
        )[1]
        assert best == tuple(merges[k])


def test_vocab_fixed_alphabet_and_ids(docs, merges):
    vocab = bpe_vocab(docs, merges, end_marker=None, byte_level=True)
    rows = {r.token: r.token_id for r in vocab.collect()}
    # 256 byte symbols first, in byte order, regardless of the corpus
    assert rows["00"] == 0 and rows["ff"] == 255
    assert len(rows) == 256 + len(
        {a + b for a, b in merges}
    )
    # merge products follow in merge order
    first_prod = merges[0][0] + merges[0][1]
    assert rows[first_prod] == 256
    # zero OOV on text the "training" corpus never saw (the whole
    # point of byte-level): ids resolve with unk_id unset
    fresh = docs.sparkSession.createDataFrame(
        [(99, "完全に新しい текст ✓")], SCHEMA
    )
    enc = bpe_encode(fresh, merges, end_marker=None, byte_level=True)
    ids = tokens_to_ids(enc, vocab)
    assert ids.count() == 1 and ids.first().token_ids


def test_fertility_units_are_pretokens_and_bytes(docs, merges):
    rep = tokenizer_fertility(
        docs, merges, end_marker=None, byte_level=True
    ).first()
    enc = bpe_encode(
        docs, merges, end_marker=None, byte_level=True, with_counts=True
    )
    agg = enc.agg(
        F.sum("n_words").alias("w"),
        F.sum("n_tokens").alias("t"),
        F.sum("n_chars").alias("c"),
    ).first()
    assert (rep.ws_tokens, rep.bpe_tokens, rep.n_chars) == (
        agg.w,
        agg.t,
        agg.c,
    )
    # n_chars counts BYTES: doc 2 has multi-byte chars, so bytes > chars
    one = enc.where("doc_id = 2").first()
    assert one.n_chars > len(DOCS[1][1].replace(" ", "")) - 10  # sanity
    assert one.n_chars == sum(
        len(w.encode("utf-8")) for w in __import__("regex").compile(
            _BPE_BYTE_PAT
        ).findall(DOCS[1][1])
    )


def test_pretokenizer_matches_duckdb_re2(docs):
    import duckdb
    import regex as rx

    p = rx.compile(_BPE_BYTE_PAT)
    for _, s in DOCS:
        if not s:
            continue
        d = duckdb.sql(
            "select regexp_extract_all(?, ?)", params=[s, _BPE_BYTE_PAT]
        ).fetchone()[0]
        assert d == p.findall(s), s


def test_byte_mode_validation(docs):
    with pytest.raises(ValueError, match="end_marker=None"):
        train_bpe(docs, n_merges=1, byte_level=True)  # default marker
    with pytest.raises(ValueError, match="end_marker=None"):
        bpe_encode(docs, [], byte_level=True)
    with pytest.raises(ValueError, match="lowercase-hex"):
        bpe_encode(
            docs, [("th", "e")], end_marker=None, byte_level=True
        )  # word-level table fed to byte mode ('t','h' not hex-aligned)
    with pytest.raises(ValueError, match="lowercase-hex"):
        bpe_pair_counts(
            docs, merges=[("6", "1")], end_marker=None, byte_level=True
        )  # odd-length = not byte-aligned


def test_registry_stages_byte_level(spark, docs, merges):
    from aqueducts_spark.operators.registry import run_operator

    docs.createOrReplaceTempView("bl_docs")
    out = run_operator(
        spark,
        {
            "type": "bpe_encode",
            "input": "bl_docs",
            # byte_level defaults end_marker to none in YAML form
            "options": {"byte_level": True, "merges": [list(m) for m in merges]},
        },
    )
    direct = bpe_encode(docs, merges, end_marker=None, byte_level=True)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, direct.collect())
    )
    pairs = run_operator(
        spark,
        {
            "type": "bpe_pairs",
            "input": "bl_docs",
            "options": {"byte_level": True},
        },
    )
    assert pairs.count() > 0
    vocab = run_operator(
        spark,
        {
            "type": "bpe_vocab",
            "input": "bl_docs",
            "options": {"byte_level": True, "merges": []},
        },
    )
    assert vocab.count() == 256
    spark.catalog.dropTempView("bl_docs")


def test_word_level_paths_unchanged(docs):
    # regression: default (word-level) behavior is byte_level-agnostic
    m = train_bpe(docs, n_merges=3)
    enc = bpe_encode(docs, m)
    assert enc.count() == len(DOCS)


# ---------------------------------------------------------------------------
# property: both engine paths agree with a pure-Python reference on
# random unicode corpora and random byte-aligned merge tables
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from test_bpe_encode import _assert_id_arms_agree


def _ref_byte_encode(text, merges):
    import regex as rx

    pre = rx.compile(_BPE_BYTE_PAT)
    out = []
    for w in pre.findall(text or ""):
        h = w.encode("utf-8").hex()
        syms = [h[i : i + 2] for i in range(0, len(h), 2)]
        for a, b in merges:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [a + b]
                else:
                    i += 1
        out.extend(syms)
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_property_byte_paths_agree(spark, data):
    # unicode-heavy alphabet: multi-byte chars, digits, punctuation,
    # whitespace runs, an astral char — every byte path must agree
    alpha = "ab1 .é¢☃\U0001f600\t"
    texts = data.draw(
        st.lists(
            st.text(alphabet=alpha, max_size=16), min_size=1, max_size=4
        )
    )
    hexsym = st.sampled_from(
        ["61", "62", "20", "c3", "a9", "31", "2e", "6162", "2061"]
    )
    merges = data.draw(st.lists(st.tuples(hexsym, hexsym), max_size=4))
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    exp = {i: _ref_byte_encode(t, merges) for i, t in enumerate(texts)}
    for method in ("expr", "python"):
        got = {
            r.doc_id: list(r.tokens)
            for r in bpe_encode(
                df, merges, end_marker=None, byte_level=True, method=method
            ).collect()
        }
        assert got == exp, method
    _assert_id_arms_agree(
        bpe_encode(df, merges, end_marker=None, byte_level=True, method="python"),
        bpe_vocab(df, merges, end_marker=None, byte_level=True),
        exp,
    )
