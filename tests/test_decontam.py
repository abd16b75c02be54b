"""Benchmark n-gram decontamination (operators/decontam.py),
Gopher-style repetition features, and context-window chunking
(operators/text.py)."""

import pytest

from aqueducts_spark.operators.decontam import (
    benchmark_ngrams,
    decontaminate,
    ngram_overlap,
)
from aqueducts_spark.operators.text import chunk_documents, repetition_features


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated text with no shared phrases here"),
        (3, "quick brown fox appears once more in this line"),
        (4, "the capital of france is paris everyone knows"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture()
def bench_set(spark):
    rows = [
        (100, "what does the quick brown fox do"),
        (101, "the capital of france is which city"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_overlap_counts_distinct_shared_ngrams(spark, corpus, bench_set):
    got = {
        (r.doc_id, r.n_overlap)
        for r in ngram_overlap(corpus, bench_set, n=3).collect()
    }
    # doc 1 shares "the quick brown"/"quick brown fox"; doc 3 shares
    # "quick brown fox"; doc 4 shares "the capital of"/"capital of
    # france"; doc 2 shares nothing (absent: output is sparse)
    assert got == {(1, 2), (3, 1), (4, 3)}


def test_decontaminate_drops_flagged_docs(spark, corpus, bench_set):
    kept = sorted(
        r.doc_id for r in decontaminate(corpus, bench_set, n=3, threshold=2).collect()
    )
    assert kept == [2, 3]  # doc 3 has only 1 overlap, below threshold 2
    kept_all = sorted(
        r.doc_id for r in decontaminate(corpus, bench_set, n=3, threshold=1).collect()
    )
    assert kept_all == [2]


def test_benchmark_ngrams_distinct(spark, bench_set):
    grams = [r.shingle for r in benchmark_ngrams(bench_set, n=3).collect()]
    assert len(grams) == len(set(grams))
    assert "the quick brown" in grams


def test_overlap_join_is_broadcast(spark, corpus, bench_set):
    plan = ngram_overlap(corpus, bench_set, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_decontaminate_stage_yaml(spark, corpus, bench_set, tmp_path):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    corpus.createOrReplaceTempView("raw_corpus")
    bench_set.createOrReplaceTempView("eval_set")
    pipeline = load_pipeline_str(
        """
version: "v2"
sources:
  - type: in_memory
    name: raw_corpus
  - type: in_memory
    name: eval_set
stages:
  - - name: clean
      operator:
        type: decontaminate
        input: raw_corpus
        options: {benchmark: eval_set, n: 3, threshold: 1}
"""
    )
    result = run_pipeline(spark, pipeline).result
    assert sorted(r.doc_id for r in result.collect()) == [2]


def test_repetition_features_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: [a b, b a, a b, b a, a b]
            (2, "x y z w"),            # all bigrams distinct
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_features(df, n=2).collect()}
    r1 = rows[1]
    assert (r1.n_grams, r1.n_distinct, r1.top_count) == (5, 2, 3)
    assert r1.dup_frac == pytest.approx(3 / 5)
    assert r1.top_frac == pytest.approx(3 / 5)
    r2 = rows[2]
    assert (r2.n_grams, r2.n_distinct, r2.top_count) == (3, 3, 1)
    assert r2.dup_frac == 0.0


def test_repetition_no_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = repetition_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunking_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        (r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # stride 3: ceil((10-4)/3) = 2 extra chunks; starts at tokens 1,4,7
    # — full coverage, consecutive chunks share 1 token
    assert rows == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]


def test_chunking_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in chunk_documents(df, chunk_tokens=8, overlap=2).collect()}
    assert rows[1].chunk_text == "a b" and rows[1].chunk_id == 0
    assert rows[2].n_chunk_tokens == 0


def test_chunking_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_chunking_no_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii_scrubs_and_counts(spark):
    from aqueducts_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org, call 555-123-4567, host 10.0.0.1"),
            (2, "clean text with no identifiers at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    r1 = rows[1]
    assert r1.redacted == "mail [EMAIL] and [EMAIL], call [PHONE], host [IPV4]"
    assert (r1.n_email, r1.n_phone, r1.n_ipv4) == (2, 1, 1)
    r2 = rows[2]
    assert r2.redacted == "clean text with no identifiers at all"
    assert (r2.n_email, r2.n_phone, r2.n_ipv4) == (0, 0, 0)


def test_redact_pii_no_shuffle(spark):
    from aqueducts_spark.operators.text import redact_pii

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_drop_common_lines_removes_boilerplate(spark):
    from aqueducts_spark.operators.dedup import drop_common_lines

    rows = [
        (1, "unique one\ncookie banner\nreal content here"),
        (2, "cookie banner\nother real text"),
        (3, "cookie banner\nmore words\n\n  \nfinal line"),
        (4, "totally unique doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in drop_common_lines(df, max_docs=2).collect()}
    assert out[1].cleaned == "unique one\nreal content here"
    assert (out[1].n_kept, out[1].n_dropped) == (2, 1)
    assert out[2].cleaned == "other real text"
    assert out[3].cleaned == "more words\nfinal line"  # blank lines ignored
    assert out[4].cleaned == "totally unique doc" and out[4].n_dropped == 0


def test_drop_common_lines_within_doc_repeat_counts_once(spark):
    from aqueducts_spark.operators.dedup import drop_common_lines

    # "x" repeats within doc 1 but only occurs in 1 distinct doc: kept
    df = spark.createDataFrame([(1, "x\nx\ny"), (2, "z")], ["doc_id", "text"])
    out = {r.doc_id: r for r in drop_common_lines(df, max_docs=1).collect()}
    assert out[1].cleaned == "x\nx\ny"


def test_drop_common_lines_one_scan_broadcast_map(spark, sf_dir):
    from aqueducts_spark.operators.dedup import drop_common_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # default (materialized) shape: the parquet scan ran ONCE, eagerly,
    # inside materialize(); the remaining plan reads checkpoint blocks
    # and applies the boilerplate set as a broadcast single-row map —
    # no corpus shuffle, no reassembly join
    plan = (
        drop_common_lines(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan parquet" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row map broadcast
    assert "SortMergeJoin" not in plan
    # opt-out shape: no materialization -> the source is scanned twice
    plan2 = (
        drop_common_lines(docs, materialize_lines=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan2.count("Scan parquet") == 2


def test_remove_duplicated_spans_semantics(spark):
    from aqueducts_spark.operators.dedup import remove_duplicated_spans

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta something else"),
        (3, "totally unique text here nothing shared"),
        (4, "short doc"),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.cleaned, r.n_tokens, r.n_removed)
        for r in remove_duplicated_spans(df, n=4, max_docs=1).collect()
    }
    # the shared 4-token prefix is cut from BOTH docs; unique doc intact;
    # identical sub-n docs are whole-doc spans and vanish entirely
    assert out[1] == ("epsilon zeta", 6, 4)
    assert out[2] == ("something else", 6, 4)
    assert out[3] == ("totally unique text here nothing shared", 6, 0)
    assert out[4] == ("", 2, 2)
    assert out[5] == ("", 2, 2)


def test_remove_duplicated_spans_python_reference(spark, sf_dir):
    """Cross-check against a direct Python implementation on real docs."""
    from aqueducts_spark.operators.dedup import remove_duplicated_spans

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    n = 5
    rows = [(r.doc_id, r.text) for r in df.collect()]
    toks = {i: [t for t in txt.lower().strip().split() if t] for i, txt in rows}

    def grams(ts):
        if not ts:
            return [""]
        if len(ts) < n:
            return [" ".join(ts)]
        return [" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)]

    from collections import Counter

    dfreq = Counter()
    for ts in toks.values():
        for gm in set(grams(ts)):
            if gm:
                dfreq[gm] += 1
    common = {gm for gm, c in dfreq.items() if c > 1}
    want = {}
    for i, ts in toks.items():
        starts = [j for j, gm in enumerate(grams(ts)) if gm in common]
        kept = [
            t for j, t in enumerate(ts)
            if not any(s <= j < s + n for s in starts)
        ]
        want[i] = (" ".join(kept), len(ts), len(ts) - len(kept))

    got = {
        r.doc_id: (r.cleaned, r.n_tokens, r.n_removed)
        for r in remove_duplicated_spans(df, n=n, max_docs=1).collect()
    }
    assert got == want


def test_remove_duplicated_spans_parallelism_invariant(spark, sf_dir):
    from aqueducts_spark.operators.dedup import remove_duplicated_spans

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    one = sorted(map(tuple, remove_duplicated_spans(df.coalesce(1)).collect()))
    many = sorted(map(tuple, remove_duplicated_spans(df.repartition(7)).collect()))
    assert one == many


def test_remove_duplicated_spans_stage(spark, sf_dir, tmp_path):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    yml = f"""
version: "v2"
sources:
  - type: file
    name: span_docs
    format: {{type: parquet}}
    location: {sf_dir}/documents.parquet
stages:
  - - name: span_clean
      operator:
        type: remove_duplicated_spans
        input: span_docs
        options: {{n: 8, max_docs: 1}}
destination:
  type: file
  name: out
  format: {{type: parquet}}
  location: {tmp_path}/span_out
"""
    run_pipeline(spark, load_pipeline_str(yml))
    back = spark.read.parquet(f"{tmp_path}/span_out")
    assert back.count() == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert back.where("n_removed > 0").count() > 0
    spark.catalog.dropTempView("span_docs")
    spark.catalog.dropTempView("span_clean")


def test_unigram_logprob_matches_python(spark, sf_dir):
    import math
    from collections import Counter

    from aqueducts_spark.operators.text import unigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    docs = {r.doc_id: [t for t in r.text.lower().strip().split() if t] for r in df.collect()}
    totals = Counter()
    for ts in docs.values():
        totals.update(ts)
    n_corpus = sum(totals.values())
    want = {}
    for i, ts in docs.items():
        tf = Counter(ts)
        micro = sum(
            math.floor(c * -math.log(totals[t] / n_corpus) * 1e6 + 0.5)
            for t, c in tf.items()
        )
        want[i] = (len(ts), micro)
    got = {
        r.doc_id: (r.n_tokens, r.nll_micro)
        for r in unigram_logprob(df).collect()
    }
    assert got == want
    # avg_nll is derived exactly from the integers
    for r in unigram_logprob(df).collect():
        assert r.avg_nll == r.nll_micro / (r.n_tokens * 1e6)


def test_unigram_logprob_parallelism_invariant(spark, sf_dir):
    from aqueducts_spark.operators.text import unigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    one = sorted(map(tuple, unigram_logprob(df.coalesce(1)).collect()))
    many = sorted(map(tuple, unigram_logprob(df.repartition(7)).collect()))
    assert one == many


def test_unigram_logprob_stage(spark, sf_dir, tmp_path):
    from aqueducts_spark import load_pipeline_str, run_pipeline

    yml = f"""
version: "v2"
sources:
  - type: file
    name: nll_docs
    format: {{type: parquet}}
    location: {sf_dir}/documents.parquet
stages:
  - - name: nll_scored
      operator:
        type: unigram_logprob
        input: nll_docs
  - - name: nll_flagged
      query: >
        SELECT COUNT(*) AS n_high FROM nll_scored
        WHERE avg_nll > (SELECT AVG(avg_nll) FROM nll_scored)
destination:
  type: file
  name: out
  format: {{type: parquet}}
  location: {tmp_path}/nll_out
"""
    run_pipeline(spark, load_pipeline_str(yml))
    row = spark.read.parquet(f"{tmp_path}/nll_out").collect()[0]
    assert 0 < row.n_high < spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    for v in ["nll_docs", "nll_scored", "nll_flagged"]:
        spark.catalog.dropTempView(v)


def test_bigram_logprob_matches_python(spark, sf_dir):
    import math
    from collections import Counter

    from aqueducts_spark.operators.text import bigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    docs = {r.doc_id: [t for t in r.text.lower().strip().split() if t] for r in df.collect()}
    uni, bi = Counter(), Counter()
    for ts in docs.values():
        uni.update(ts)
        bi.update(zip(ts, ts[1:]))
    n_corpus = sum(uni.values())
    prefix = Counter()
    for (a, _), c in bi.items():
        prefix[a] += c
    want = {}
    for i, ts in docs.items():
        if not ts:
            continue
        micro = math.floor(-math.log(uni[ts[0]] / n_corpus) * 1e6 + 0.5)
        doc_bi = Counter(zip(ts, ts[1:]))
        for g, tfc in doc_bi.items():
            micro += math.floor(tfc * -math.log(bi[g] / prefix[g[0]]) * 1e6 + 0.5)
        want[i] = (len(ts), micro)
    got = {
        r.doc_id: (r.n_tokens, r.nll_micro)
        for r in bigram_logprob(df).collect()
    }
    assert got == want


def test_bigram_logprob_parallelism_invariant(spark, sf_dir):
    from aqueducts_spark.operators.text import bigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    one = sorted(map(tuple, bigram_logprob(df.coalesce(1)).collect()))
    many = sorted(map(tuple, bigram_logprob(df.repartition(7)).collect()))
    assert one == many


def test_bigram_flags_word_salad(spark):
    """Shuffled-token copies of real sentences must score worse than
    the originals under the bigram (transition) model."""
    from aqueducts_spark.operators.text import bigram_logprob

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox runs over the lazy cat",
        "a quick brown dog jumps over the lazy fox",
        "the lazy dog sleeps while the quick fox runs",
    ]
    salad = ["dog the over quick jumps lazy fox brown the",
             "cat lazy the over runs fox brown quick the"]
    rows = [(i, t) for i, t in enumerate(base + salad)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.avg_nll for r in bigram_logprob(df).collect()}
    avg_real = sum(got[i] for i in range(len(base))) / len(base)
    avg_salad = sum(got[i] for i in range(len(base), len(base) + len(salad))) / len(salad)
    assert avg_salad > avg_real


def test_text_features_empty_doc_ratios_are_zero_not_null(spark):
    """NULL ratios would silently drop empty docs from BOTH sides of any
    quality threshold filter."""
    from aqueducts_spark.operators.text import quality_score, text_features

    d = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    for r in text_features(d).collect():
        assert r.space_ratio is not None
        assert r.punct_ratio == 0.0
        assert r.digit_ratio == 0.0
    for q in quality_score(d).collect():
        assert q.quality_score is not None


def test_blank_benchmark_doc_does_not_contaminate_blank_corpus_docs(spark):
    from aqueducts_spark.operators.decontam import ngram_overlap

    bench = spark.createDataFrame([(1, "   ")], ["doc_id", "text"])
    corpus = spark.createDataFrame([(10, ""), (11, "real text here")], ["doc_id", "text"])
    assert ngram_overlap(corpus, bench, n=3).count() == 0


def test_exact_dedup_null_handling(spark):
    """NULL payloads in different positions stay distinct, and NULL-id
    rows survive dedup instead of vanishing through the old min-id join."""
    from aqueducts_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (None, "b", "b"), (9, "b", "b")],
        "doc_id int, c1 string, c2 string",
    )
    out = exact_dedup(df, "doc_id", ["c1", "c2"]).collect()
    kept = {(r.c1, r.c2) for r in out}
    # three DISTINCT payloads survive: ('a',NULL) and (NULL,'a') must
    # not collide, and the (b,b) group keeps one row
    assert kept == {("a", None), (None, "a"), ("b", "b")}
    assert len(out) == 3


def test_minhash_bands_requires_divisibility(spark):
    from aqueducts_spark.operators.dedup import minhash_bands

    df = spark.createDataFrame([(1, "some text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must divide"):
        minhash_bands(df, num_hashes=16, bands=5)


def test_dedup_against_drops_known_payloads(spark):
    from aqueducts_spark.operators.dedup import dedup_against

    corpus = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, "also seen"), (4, None)],
        "doc_id int, text string",
    )
    for bc in (False, True):
        kept = sorted(
            r.doc_id for r in dedup_against(new, corpus, ["text"], broadcast_corpus=bc).collect()
        )
        # NULL payload is not in the corpus (corpus has no NULL row), so
        # it survives; identical texts are dropped regardless of id
        assert kept == [2, 4], f"broadcast_corpus={bc}"


def test_dedup_against_null_payload_matches_null_corpus_row(spark):
    from aqueducts_spark.operators.dedup import dedup_against

    corpus = spark.createDataFrame([(9, None)], "doc_id int, text string")
    new = spark.createDataFrame(
        [(1, None), (2, "real")], "doc_id int, text string"
    )
    kept = [r.doc_id for r in dedup_against(new, corpus, ["text"]).collect()]
    # the NULL sentinel makes NULL==NULL for dedup purposes (a corpus
    # document with NULL text fingerprints identically)
    assert kept == [2]


def test_dedup_against_registry_stage(spark):
    from aqueducts_spark.operators.registry import run_operator

    spark.createDataFrame(
        [(1, "x"), (2, "y")], ["doc_id", "text"]
    ).createOrReplaceTempView("da_new")
    spark.createDataFrame([(5, "x")], ["doc_id", "text"]).createOrReplaceTempView(
        "da_corpus"
    )
    out = run_operator(
        spark,
        {
            "type": "dedup_against",
            "input": "da_new",
            "options": {"corpus": "da_corpus", "columns": ["text"]},
        },
    )
    assert [r.doc_id for r in out.collect()] == [2]
    spark.catalog.dropTempView("da_new")
    spark.catalog.dropTempView("da_corpus")


def test_strip_markup_semantics(spark):
    from aqueducts_spark.operators.text import strip_markup

    df = spark.createDataFrame(
        [
            (1, '<html><body><p>Hello <b>world</b></p><script type="x">if (a < b) alert(1);</script></body></html>'),
            (2, "plain text, no markup"),
            (3, "<style>.c { color: red; }</style>ent: &amp; &lt;x&gt; &quot;q&quot; &#39;s&#39; &nbsp;end"),
            (4, "<!-- hidden\ncomment -->visible   text"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in strip_markup(df).collect()}
    assert out[1].cleaned == "Hello world"
    assert out[1].n_tags > 0
    assert out[2].cleaned == "plain text, no markup"
    assert out[2].n_tags == 0
    assert out[3].cleaned == 'ent: & <x> "q" \'s\' end'
    assert out[4].cleaned == "visible text"


def test_strip_markup_zero_shuffle_plan(spark):
    from aqueducts_spark.operators.text import strip_markup
    from aqueducts_spark.plans import inspect_plan

    df = spark.createDataFrame([(1, "<p>x</p>")], ["doc_id", "text"])
    info = inspect_plan(strip_markup(df))
    assert info.exchanges == 0
    assert info.python_evals == 0


def test_strip_markup_registry_stage(spark):
    from aqueducts_spark.operators.registry import run_operator

    spark.createDataFrame(
        [(1, "<i>em</i> done")], ["doc_id", "text"]
    ).createOrReplaceTempView("sm_docs")
    out = run_operator(
        spark, {"type": "strip_markup", "input": "sm_docs", "options": {}}
    )
    assert out.collect()[0].cleaned == "em done"
    spark.catalog.dropTempView("sm_docs")


def test_repetition_short_and_null_docs_are_neutral(spark):
    """Docs with fewer than n tokens (or NULL text) have NO n-grams:
    every count is 0 and both fractions are 0.0 — a Gopher-style
    'top_frac > t' filter must not drop short docs as repetitive."""
    from aqueducts_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "word"), (4, "a a a a"), (5, "x y")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_features(df, n=2).collect()}
    for short_id in (1, 2, 3):
        r = got[short_id]
        assert (r.n_grams, r.n_distinct, r.top_count) == (0, 0, 0)
        assert r.dup_frac == 0.0 and r.top_frac == 0.0
    assert got[4].n_grams == 3 and got[4].top_frac == 1.0  # "a a" x3
    assert got[5].n_grams == 1 and got[5].dup_frac == 0.0


def test_text_features_null_text_like_empty(spark):
    from aqueducts_spark.operators.text import quality_score, text_features

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    rows = {r.doc_id: r for r in text_features(df).collect()}
    assert rows[1].n_chars == 0 and rows[1].n_tokens == 0
    assert rows[1].space_ratio == rows[2].space_ratio == 0.0
    scores = {r.doc_id: r.quality_score for r in quality_score(df).collect()}
    assert scores[1] is not None and scores[1] == scores[2]


def test_fingerprint_null_groups_with_empty(spark):
    from aqueducts_spark.operators.text import fingerprint
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(None,), ("",), ("  ",)], "text string")
    fps = [r.fp for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert len(set(fps)) == 1 and fps[0] is not None


def test_chunk_documents_rejects_bad_params(spark):
    from aqueducts_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap must be >= 0"):
        chunk_documents(df, chunk_tokens=64, overlap=-8)
    with _pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0, overlap=-1)


def test_redact_pii_dollar_in_pattern_name(spark):
    from aqueducts_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "price is $42 today")], "doc_id long, text string"
    )
    out = redact_pii(
        df, patterns={"price$": r"\$\d+"}
    ).collect()[0]
    assert out.redacted == "price is [PRICE$] today"
    assert out["n_price$"] == 1


def test_decontaminate_null_id_rows_are_removable(spark):
    """A contaminated document with a NULL id must NOT survive the
    anti-join (plain equi-anti-joins never match NULL keys)."""
    from aqueducts_spark.operators.decontam import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    corpus = spark.createDataFrame(
        [(None, bench_text + " extra words here"), (2, "totally unrelated clean text")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")
    kept = decontaminate(corpus, bench, n=13).collect()
    assert [r.doc_id for r in kept] == [2]


def test_text_null_behaves_like_empty(spark):
    """Module NULL policy: every text operator treats NULL text as
    empty instead of NULL-poisoning counts/ratios."""
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.text import (
        bpe_ish_token_count,
        chunk_documents,
        detect_language,
        redact_pii,
        strip_markup,
        token_count,
    )

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = df.select(
        token_count(F.col("text")).alias("t"),
        bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()[0]
    assert r.t == 0 and r.b == 0
    lang = detect_language(df).collect()[0]
    assert lang.predicted_lang == "und" and lang.ratio_en == 0.0
    pii = redact_pii(df).collect()[0]
    assert pii.n_email == 0 and pii.redacted == ""
    markup = strip_markup(df).collect()[0]
    assert markup.n_tags == 0 and markup.cleaned == ""
    chunk = chunk_documents(df).collect()[0]
    assert chunk.n_chunk_tokens == 0


def test_tfidf_null_and_duplicate_ids_never_negative(spark):
    from aqueducts_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(None, "shared term alpha"), (1, "shared term beta"), (2, "shared term gamma")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, top_n=5)
    assert out.where("tfidf < 0").count() == 0


def _ref_report(corpus_rows, bench_rows, n):
    """Pure-Python reference for contamination_report."""
    def grams(t):
        toks = [w for w in (t or "").lower().split() if w]
        if not toks:
            return set()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    corp = {i: grams(t) for i, t in corpus_rows}
    out = {}
    for bid, t in bench_rows:
        g = grams(t)
        dirty = {s for s in g if any(s in cg for cg in corp.values())}
        docs = {i for i, cg in corp.items() if cg & g}
        out[bid] = (
            len(g),
            len(dirty),
            round(len(dirty) / len(g), 6) if g else None,
            len(docs),
            len(dirty) >= 1,
        )
    return out


def test_contamination_report_values(spark, corpus, bench_set):
    from aqueducts_spark.operators.decontam import contamination_report

    got = {
        r.bench_id: (
            r.n_grams, r.n_dirty_grams, r.dirty_frac, r.n_corpus_docs,
            r.is_dirty,
        )
        for r in contamination_report(corpus, bench_set, n=3).collect()
    }
    exp = _ref_report(
        [(r.doc_id, r.text) for r in corpus.collect()],
        [(r.doc_id, r.text) for r in bench_set.collect()],
        3,
    )
    assert got == exp
    # both items share 3-grams with the corpus here
    assert got[100][4] and got[101][4]


def test_contamination_report_clean_and_empty_items(spark, corpus):
    from aqueducts_spark.operators.decontam import contamination_report

    bench = spark.createDataFrame(
        [(1, "zero overlap phrases entirely absent here"), (2, ""), (3, None)],
        ["doc_id", "text"],
    )
    got = {
        r.bench_id: (r.n_grams, r.n_dirty_grams, r.dirty_frac, r.n_corpus_docs, r.is_dirty)
        for r in contamination_report(corpus, bench, n=3).collect()
    }
    # every benchmark row is PRESENT, clean items report zeros
    assert set(got) == {1, 2, 3}
    assert got[1][1] == 0 and got[1][3] == 0 and not got[1][4]
    assert got[2] == (0, 0, None, 0, False)
    assert got[3] == (0, 0, None, 0, False)


def test_contamination_report_validation(spark, corpus):
    from aqueducts_spark.operators.decontam import contamination_report

    dup = spark.createDataFrame([(1, "a"), (1, "b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="unique"):
        contamination_report(corpus, dup)
    with pytest.raises(ValueError, match="min_dirty_grams"):
        contamination_report(corpus, corpus.limit(1), min_dirty_grams=0)


def test_contamination_report_registry_stage(spark, corpus, bench_set):
    from aqueducts_spark.operators.registry import run_operator

    corpus.createOrReplaceTempView("cr_corpus")
    bench_set.createOrReplaceTempView("cr_bench")
    out = run_operator(
        spark,
        {
            "type": "contamination_report",
            "input": "cr_corpus",
            "options": {"benchmark": "cr_bench", "n": 3},
        },
    )
    assert {r.bench_id for r in out.collect()} == {100, 101}
    spark.catalog.dropTempView("cr_corpus")
    spark.catalog.dropTempView("cr_bench")


def test_contamination_report_corpus_side_is_broadcast_join(spark, corpus, bench_set):
    from aqueducts_spark.operators.decontam import contamination_report
    from aqueducts_spark.plans.inspect import inspect_plan

    info = inspect_plan(contamination_report(corpus, bench_set, n=3))
    # the bench gram table broadcasts into the corpus explode; no
    # sort-merge join anywhere on the corpus path
    assert info.broadcast_joins >= 2 and info.sort_merge_joins == 0


def test_contamination_report_registry_missing_benchmark_option(spark, corpus):
    from aqueducts_spark.operators.registry import OperatorError, run_operator

    corpus.createOrReplaceTempView("cr_corpus3")
    with pytest.raises(OperatorError, match="benchmark"):
        run_operator(
            spark,
            {
                "type": "contamination_report",
                "input": "cr_corpus3",
                "options": {},
            },
        )
    spark.catalog.dropTempView("cr_corpus3")


def test_decontaminate_threshold_validation(spark, corpus, bench_set):
    from aqueducts_spark.operators.decontam import decontaminate

    with pytest.raises(ValueError, match="threshold"):
        decontaminate(corpus, bench_set, threshold=0)
    with pytest.raises(ValueError, match="n must be"):
        decontaminate(corpus, bench_set, n=0)


def test_kn_bigram_logprob_matches_python(spark, sf_dir):
    """Interpolated Kneser-Ney replayed in pure Python: distinct
    continuation counts, D=0.75 absolute discount, add-one continuation
    smoothing — bit-identical micro-nat sums."""
    import math
    from collections import Counter, defaultdict

    from aqueducts_spark.operators.text import kn_bigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    docs = {r.doc_id: [t for t in r.text.lower().strip().split() if t] for r in df.collect()}
    uni, bi = Counter(), Counter()
    for ts in docs.values():
        uni.update(ts)
        bi.update(zip(ts, ts[1:]))
    prefix_ct, fwd, bwd = Counter(), defaultdict(set), defaultdict(set)
    for (a, b), c in bi.items():
        prefix_ct[a] += c
        fwd[a].add(b)
        bwd[b].add(a)
    n_types, v, d = len(bi), len(uni), 0.75

    def pcont(w):
        return (len(bwd.get(w, ())) + 1.0) / (n_types + v)

    want = {}
    for i, ts in docs.items():
        if not ts:
            continue
        micro = math.floor(-math.log(pcont(ts[0])) * 1e6 + 0.5)
        doc_bi = Counter(zip(ts, ts[1:]))
        for (a, b), tfc in doc_bi.items():
            p = (
                max(bi[(a, b)] - d, 0.0) / prefix_ct[a]
                + d * len(fwd[a]) / prefix_ct[a] * pcont(b)
            )
            micro += math.floor(tfc * -math.log(p) * 1e6 + 0.5)
        want[i] = (len(ts), micro)
    got = {
        r.doc_id: (r.n_tokens, r.nll_micro)
        for r in kn_bigram_logprob(df).collect()
    }
    assert got == want


def test_kn_bigram_logprob_handles_unseen_continuation(spark):
    """A word appearing ONLY document-initially has zero continuation
    count; add-one smoothing keeps its lowest-order score finite."""
    from aqueducts_spark.operators.text import kn_bigram_logprob

    df = spark.createDataFrame(
        [(1, "zzz alpha beta"), (2, "alpha beta"), (3, "beta alpha")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in kn_bigram_logprob(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r.nll_micro > 0 and r.avg_nll > 0 for r in rows.values())


def test_kn_bigram_logprob_validation_and_stage(spark, sf_dir):
    import pytest as _pytest

    from aqueducts_spark.operators.registry import run_operator
    from aqueducts_spark.operators.text import kn_bigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    with _pytest.raises(ValueError, match="discount"):
        kn_bigram_logprob(df, discount=1.0)
    df.createOrReplaceTempView("kn_docs")
    out = run_operator(
        spark,
        {"type": "kn_bigram_logprob", "input": "kn_docs",
         "options": {"discount": 0.5}},
    )
    assert out.count() == 5


def test_kn_bigram_parallelism_invariant(spark, sf_dir):
    from aqueducts_spark.operators.text import kn_bigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    one = sorted(map(tuple, kn_bigram_logprob(df.coalesce(1)).collect()))
    many = sorted(map(tuple, kn_bigram_logprob(df.repartition(7)).collect()))
    assert one == many


def test_kn_fit_score_equals_selftrained(spark, sf_dir):
    """kn_bigram_score(df, kn_bigram_fit(df)) is row-identical to the
    single-pass self-trained kn_bigram_logprob."""
    from aqueducts_spark.operators.text import (
        kn_bigram_fit,
        kn_bigram_logprob,
        kn_bigram_score,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    split = sorted(map(tuple, kn_bigram_score(df, kn_bigram_fit(df)).collect()))
    joint = sorted(map(tuple, kn_bigram_logprob(df).collect()))
    assert split == joint


@pytest.mark.parametrize("order", [2, 3])
def test_kn_fit_score_equals_selftrained_short_docs(spark, order):
    """At both orders, external scoring against the corpus's own fit is
    row-identical to the self-trained scorer on the shapes the sf0.001
    sweeps never hit: empty and NULL docs, docs shorter than the order,
    repeated grams, and a crawl doc whose words occur nowhere else."""
    from aqueducts_spark.operators import text

    name = {2: "bigram", 3: "trigram"}[order]
    logprob, fit, score = (
        getattr(text, f"kn_{name}_{f}") for f in ("logprob", "fit", "score")
    )
    df = spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "solo"),
            (4, "two words"),
            (5, "now three tokens"),
            (6, "a b a b a b a b"),
            (7, "the cat sat on the mat the cat sat"),
            (8, "Zyx QWV the cat blorp"),
        ],
        "doc_id long, text string",
    )
    joint = sorted(map(tuple, logprob(df).collect()))
    assert sorted(map(tuple, score(df, fit(df)).collect())) == joint
    assert {r[0]: r[1] for r in joint} == {
        3: 1, 4: 2, 5: 3, 6: 8, 7: 9, 8: 5
    }
    assert all(r[2] > 0 for r in joint)


def test_kn_score_external_model_oov_finite(spark):
    """Scoring a corpus with OOV words, unseen prefixes and unseen
    bigrams against an external fit stays finite and ordered sanely."""
    from aqueducts_spark.operators.text import kn_bigram_fit, kn_bigram_score

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    model = kn_bigram_fit(ref)
    crawl = spark.createDataFrame(
        [
            (10, "the cat sat"),          # all seen transitions
            (11, "the zebra sat"),        # unseen bigram under seen prefix; OOV word
            (12, "qqq zzz"),              # everything OOV incl. prefix
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in kn_bigram_score(crawl, model).collect()}
    assert set(rows) == {10, 11, 12}
    assert all(r.nll_micro > 0 for r in rows.values())
    # fluent-in-model text scores better than OOV salad
    assert rows[10].avg_nll < rows[11].avg_nll < rows[12].avg_nll


def test_kn_fit_is_mergeable(spark, sf_dir):
    """Per-shard fits roll up exactly: union + groupBy-sum of two half
    fits equals the whole-corpus fit."""
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.text import kn_bigram_fit

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    a = kn_bigram_fit(df.where("doc_id % 2 = 0"))
    b = kn_bigram_fit(df.where("doc_id % 2 = 1"))
    merged = (
        a.unionByName(b)
        .groupBy("w1", "w2")
        .agg(F.sum("ct").alias("ct"))
    )
    whole = kn_bigram_fit(df)

    def key(rows):
        return sorted((r.w1, r.w2 or "", r.ct) for r in rows)

    assert key(merged.collect()) == key(whole.collect())


def test_kn_score_validation(spark, sf_dir):
    import pytest as _pytest

    from aqueducts_spark.operators.text import kn_bigram_score

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    bad = spark.createDataFrame([(1,)], "x long")
    with _pytest.raises(ValueError, match="missing 'w1'"):
        kn_bigram_score(df, bad)
    good = spark.createDataFrame(
        [("a", None, 1), ("a", "b", 1)], "w1 string, w2 string, ct long"
    )
    with _pytest.raises(ValueError, match="discount"):
        kn_bigram_score(df, good, discount=0.0)


def test_kn_score_rejects_model_without_vocab_rows(spark, sf_dir):
    import pytest as _pytest

    from aqueducts_spark.operators.text import kn_bigram_score

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(3)
    no_vocab = spark.createDataFrame(
        [("a", "b", 2)], "w1 string, w2 string, ct long"
    )
    with _pytest.raises(Exception, match="no unigram vocabulary rows"):
        kn_bigram_score(df, no_vocab).collect()


def test_kn_probability_mass_is_exactly_one(spark):
    """Interpolated KN conserves probability mass EXACTLY: for every
    seen prefix, sum_w2 P(w2|w1) over the model vocabulary = 1 (the
    discount mass lambda(w1) redistributes through Pcont, whose add-one
    smoothing itself sums to 1 over V) — the property that makes the
    scorer a real LM, not a heuristic."""
    from collections import Counter, defaultdict

    from aqueducts_spark.operators.text import kn_bigram_fit

    ref = spark.createDataFrame(
        [
            (1, "a b a c a b d"),
            (2, "b c d a a"),
            (3, "c c c b"),
        ],
        "doc_id long, text string",
    )
    rows = kn_bigram_fit(ref).collect()
    uni = {r.w1 for r in rows if r.w2 is None}
    bi = Counter({(r.w1, r.w2): r.ct for r in rows if r.w2 is not None})
    prefix_ct, fwd, bwd = Counter(), defaultdict(set), defaultdict(set)
    for (a, b), c in bi.items():
        prefix_ct[a] += c
        fwd[a].add(b)
        bwd[b].add(a)
    n_types, v, d = len(bi), len(uni), 0.75

    def pcont(w):
        return (len(bwd.get(w, ())) + 1.0) / (n_types + v)

    # the smoothed continuation distribution sums to 1 over the vocab
    assert sum(pcont(w) for w in uni) == pytest.approx(1.0, abs=1e-12)
    for w1 in prefix_ct:
        total = sum(
            max(bi.get((w1, w2), 0) - d, 0.0) / prefix_ct[w1]
            + d * len(fwd[w1]) / prefix_ct[w1] * pcont(w2)
            for w2 in uni
        )
        assert total == pytest.approx(1.0, abs=1e-12), w1


def _kn3_python(docs, d=0.75):
    """Pure-Python trigram interpolated KN replay (micro-nat sums)."""
    import math
    from collections import Counter, defaultdict

    uni, bi, tri = Counter(), Counter(), Counter()
    for ts in docs.values():
        uni.update(ts)
        bi.update(zip(ts, ts[1:]))
        tri.update(zip(ts, ts[1:], ts[2:]))
    bwd = defaultdict(set)
    for (a, b) in bi:
        bwd[b].add(a)
    n_types, v = len(bi), len(uni)

    def p1(w):
        return (len(bwd.get(w, ())) + 1.0) / (n_types + v)

    pfx12, top_fwd = Counter(), defaultdict(set)
    mid_pred = defaultdict(set)   # (w2,w3) -> distinct w1
    for (a, b, c), n in tri.items():
        pfx12[(a, b)] += n
        top_fwd[(a, b)].add(c)
        mid_pred[(b, c)].add(a)
    mid_tot, mid_fwd = Counter(), defaultdict(set)
    for (b, c), preds in mid_pred.items():
        mid_tot[b] += len(preds)
        mid_fwd[b].add(c)

    def p2(b, c):
        if mid_tot[b] == 0:
            return p1(c)
        return (
            max(len(mid_pred.get((b, c), ())) - d, 0.0) / mid_tot[b]
            + d * len(mid_fwd[b]) / mid_tot[b] * p1(c)
        )

    def p3(a, b, c):
        return (
            max(tri[(a, b, c)] - d, 0.0) / pfx12[(a, b)]
            + d * len(top_fwd[(a, b)]) / pfx12[(a, b)] * p2(b, c)
        )

    want = {}
    for i, ts in docs.items():
        if not ts:
            continue
        micro = math.floor(-math.log(p1(ts[0])) * 1e6 + 0.5)
        if len(ts) >= 2:
            micro += math.floor(-math.log(p2(ts[0], ts[1])) * 1e6 + 0.5)
        from collections import Counter as _C
        for g, tfc in _C(zip(ts, ts[1:], ts[2:])).items():
            micro += math.floor(tfc * -math.log(p3(*g)) * 1e6 + 0.5)
        want[i] = (len(ts), micro)
    return want


def test_kn_trigram_logprob_matches_python(spark, sf_dir):
    from aqueducts_spark.operators.text import kn_trigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    docs = {
        r.doc_id: [t for t in r.text.lower().strip().split() if t]
        for r in df.collect()
    }
    want = _kn3_python(docs)
    got = {
        r.doc_id: (r.n_tokens, r.nll_micro)
        for r in kn_trigram_logprob(df).collect()
    }
    assert got == want


def test_kn_trigram_mass_conservation():
    """For every seen (w1,w2) prefix, sum_w3 P3(w3|w1w2) over the vocab
    is EXACTLY 1 — the three-level recursion conserves mass because
    every mid-level statistic derives from the same trigram type table."""
    from collections import Counter, defaultdict
    import math

    docs = {
        1: "a b a c a b d a".split(),
        2: "b c d a a c b".split(),
        3: "c c c b a".split(),
        4: "d a".split(),
    }
    uni, bi, tri = Counter(), Counter(), Counter()
    for ts in docs.values():
        uni.update(ts)
        bi.update(zip(ts, ts[1:]))
        tri.update(zip(ts, ts[1:], ts[2:]))
    bwd = defaultdict(set)
    for (a, b) in bi:
        bwd[b].add(a)
    n_types, v, d = len(bi), len(uni), 0.75

    def p1(w):
        return (len(bwd.get(w, ())) + 1.0) / (n_types + v)

    pfx12, top_fwd = Counter(), defaultdict(set)
    mid_pred = defaultdict(set)
    for (a, b, c), n in tri.items():
        pfx12[(a, b)] += n
        top_fwd[(a, b)].add(c)
        mid_pred[(b, c)].add(a)
    mid_tot, mid_fwd = Counter(), defaultdict(set)
    for (b, c), preds in mid_pred.items():
        mid_tot[b] += len(preds)
        mid_fwd[b].add(c)

    def p2(b, c):
        if mid_tot[b] == 0:
            return p1(c)
        return (
            max(len(mid_pred.get((b, c), ())) - d, 0.0) / mid_tot[b]
            + d * len(mid_fwd[b]) / mid_tot[b] * p1(c)
        )

    assert sum(p1(w) for w in uni) == pytest.approx(1.0, abs=1e-12)
    for b in uni:
        assert sum(p2(b, c) for c in uni) == pytest.approx(1.0, abs=1e-12), b
    for (a, b) in pfx12:
        total = sum(
            max(tri.get((a, b, c), 0) - d, 0.0) / pfx12[(a, b)]
            + d * len(top_fwd[(a, b)]) / pfx12[(a, b)] * p2(b, c)
            for c in uni
        )
        assert total == pytest.approx(1.0, abs=1e-12), (a, b)


def test_kn_trigram_short_docs_and_validation(spark):
    import pytest as _pytest

    from aqueducts_spark.operators.text import kn_trigram_logprob

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "now three tokens"), (4, "  ")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in kn_trigram_logprob(df).collect()}
    assert set(rows) == {1, 2, 3}  # empty doc emits no row
    assert rows[1].n_tokens == 1 and rows[2].n_tokens == 2
    assert rows[3].n_tokens == 3
    assert all(r.nll_micro > 0 for r in rows.values())
    with _pytest.raises(ValueError, match="discount"):
        kn_trigram_logprob(df, discount=0.0)


def test_kn_trigram_parallelism_invariant(spark, sf_dir):
    from aqueducts_spark.operators.text import kn_trigram_logprob

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    one = sorted(map(tuple, kn_trigram_logprob(df.coalesce(1)).collect()))
    many = sorted(map(tuple, kn_trigram_logprob(df.repartition(7)).collect()))
    assert one == many


# ---------------------------------------------------------------------------
# kn_trigram_fit / kn_trigram_score (the external-model production shape)
# ---------------------------------------------------------------------------


def test_kn_trigram_fit_score_equals_selftrained(spark, sf_dir):
    """kn_trigram_score(df, kn_trigram_fit(df)) is row-identical to the
    single-pass self-trained kn_trigram_logprob."""
    from aqueducts_spark.operators.text import (
        kn_trigram_fit,
        kn_trigram_logprob,
        kn_trigram_score,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    split = sorted(
        map(tuple, kn_trigram_score(df, kn_trigram_fit(df)).collect())
    )
    joint = sorted(map(tuple, kn_trigram_logprob(df).collect()))
    assert split == joint


def test_kn_trigram_fit_is_mergeable(spark, sf_dir):
    """Per-shard trigram fits roll up exactly: union + groupBy-sum of
    two half fits equals the whole-corpus fit."""
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.text import kn_trigram_fit

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    a = kn_trigram_fit(df.where("doc_id % 2 = 0"))
    b = kn_trigram_fit(df.where("doc_id % 2 = 1"))
    merged = (
        a.unionByName(b)
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("ct").alias("ct"))
    )
    whole = kn_trigram_fit(df)

    def key(rows):
        return sorted((r.w1, r.w2 or "", r.w3 or "", r.ct) for r in rows)

    assert key(merged.collect()) == key(whole.collect())


def test_kn_trigram_score_external_model_oov_finite(spark):
    """OOV words, unseen prefixes/trigrams against an external fit stay
    finite and order sanely: fluent beats partial beats full salad."""
    from aqueducts_spark.operators.text import (
        kn_trigram_fit,
        kn_trigram_score,
    )

    ref = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the rug"),
            (3, "a cat sat on a rug"),
        ],
        "doc_id long, text string",
    )
    model = kn_trigram_fit(ref)
    crawl = spark.createDataFrame(
        [
            (10, "the cat sat on the rug"),   # all transitions in-model
            (11, "the zebra sat on the mat"), # OOV word, unseen grams
            (12, "qqq zzz www yyy"),          # everything OOV
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in kn_trigram_score(crawl, model).collect()}
    assert set(rows) == {10, 11, 12}
    assert all(r.nll_micro > 0 for r in rows.values())
    assert rows[10].avg_nll < rows[11].avg_nll < rows[12].avg_nll


def test_kn_trigram_score_validation(spark, sf_dir):
    import pytest as _pytest

    from aqueducts_spark.operators.text import kn_trigram_score

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    bad = spark.createDataFrame([(1,)], "x long")
    with _pytest.raises(ValueError, match="missing 'w1'"):
        kn_trigram_score(df, bad)
    good = spark.createDataFrame(
        [("a", None, None, 1), ("a", "b", None, 1), ("a", "b", "c", 1)],
        "w1 string, w2 string, w3 string, ct long",
    )
    with _pytest.raises(ValueError, match="discount"):
        kn_trigram_score(df, good, discount=1.0)


def test_kn_trigram_score_rejects_malformed_models(spark, sf_dir):
    """No unigram vocab rows, or rows with w2 NULL but w3 set, raise
    loudly from the lazy scalars guard."""
    import pytest as _pytest

    from pyspark.sql.utils import AnalysisException

    from aqueducts_spark.operators.text import kn_trigram_score

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    no_vocab = spark.createDataFrame(
        [("a", "b", None, 1), ("a", "b", "c", 1)],
        "w1 string, w2 string, w3 string, ct long",
    )
    with _pytest.raises(Exception, match="kn_trigram_fit relation"):
        kn_trigram_score(df, no_vocab).collect()
    malformed = spark.createDataFrame(
        [("a", None, None, 1), ("a", "b", "c", 1), ("x", None, "z", 1)],
        "w1 string, w2 string, w3 string, ct long",
    )
    with _pytest.raises(Exception, match="kn_trigram_fit relation"):
        kn_trigram_score(df, malformed).collect()


def test_kn_trigram_fit_score_yaml_stages(spark, sf_dir):
    """fit -> score as registry stages over a registered model table."""
    from aqueducts_spark.operators.registry import run_operator

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    df.createOrReplaceTempView("kn3_docs")
    fit = run_operator(
        spark, {"type": "kn_trigram_fit", "input": "kn3_docs"}
    )
    fit.createOrReplaceTempView("kn3_model")
    scored = run_operator(
        spark,
        {
            "type": "kn_trigram_score",
            "input": "kn3_docs",
            "options": {"model": "kn3_model"},
        },
    )
    assert scored.count() == 30
    assert {"doc_id", "n_tokens", "nll_micro", "avg_nll"} <= set(
        scored.columns
    )


def test_kn_score_accepts_unmerged_shard_unions(spark, sf_dir):
    """A plain unionByName of per-shard fits (no manual groupBy-sum)
    scores identically to the merged model at BOTH orders — the score
    operators normalize duplicate gram rows instead of fanning out the
    corpus tf join (which silently double-counted events)."""
    from pyspark.sql import functions as F

    from aqueducts_spark.operators.text import (
        kn_bigram_fit,
        kn_bigram_score,
        kn_trigram_fit,
        kn_trigram_score,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    for fit, score, keys in (
        (kn_bigram_fit, kn_bigram_score, ["w1", "w2"]),
        (kn_trigram_fit, kn_trigram_score, ["w1", "w2", "w3"]),
    ):
        a = fit(df.where("doc_id % 2 = 0"))
        b = fit(df.where("doc_id % 2 = 1"))
        raw_union = a.unionByName(b)
        merged = raw_union.groupBy(*keys).agg(F.sum("ct").alias("ct"))
        got = sorted(map(tuple, score(df, raw_union).collect()))
        want = sorted(map(tuple, score(df, merged).collect()))
        assert got == want, fit.__name__


def test_kn_trigram_score_rejects_missing_bigram_level(spark, sf_dir):
    """Trigram rows without their bigram level cannot come from a real
    fit and would silently collapse P1 to uniform — loud error."""
    import pytest as _pytest

    from aqueducts_spark.operators.text import kn_trigram_score

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    no_bi = spark.createDataFrame(
        [("a", None, None, 1), ("a", "b", "c", 1)],
        "w1 string, w2 string, w3 string, ct long",
    )
    with _pytest.raises(Exception, match="kn_trigram_fit relation"):
        kn_trigram_score(df, no_bi).collect()
    null_w1 = spark.createDataFrame(
        [("a", None, None, 1), (None, "b", None, 1), ("a", "b", None, 1)],
        "w1 string, w2 string, w3 string, ct long",
    )
    with _pytest.raises(Exception, match="kn_trigram_fit relation"):
        kn_trigram_score(df, null_w1).collect()
