"""Session defaults (aqueducts_spark/session.py)."""

import random

import pyarrow as pa
import pyarrow.parquet as pq

# the operator chain of a text-curation pipeline: exact and fuzzy
# decontamination, quality and LM scores, PII redaction, chunking, a
# vocabulary, token ids and shard packing
CURATION_YAML = """
version: "v2"
sources:
  - type: file
    name: cg_train
    format: {type: parquet}
    location: ${in_dir}/train.parquet
  - type: file
    name: cg_eval
    format: {type: parquet}
    location: ${in_dir}/eval.parquet
stages:
  - - name: cg_exact
      operator:
        type: decontaminate
        input: cg_train
        options: {benchmark: cg_eval, n: 8, threshold: 1}
  - - name: cg_fuzzy
      operator:
        type: fuzzy_decontaminate
        input: cg_exact
        options: {benchmark: cg_eval, threshold: 0.6}
  - - name: cg_quality
      operator:
        type: quality_score
        input: cg_fuzzy
    - name: cg_lm
      operator:
        type: unigram_logprob
        input: cg_fuzzy
  - - name: cg_kept
      query: >
        SELECT d.doc_id, d.text, q.quality_score, m.avg_nll
        FROM cg_fuzzy d
        JOIN cg_quality q ON d.doc_id = q.doc_id
        JOIN cg_lm m ON d.doc_id = m.doc_id
  - - name: cg_scrubbed
      operator:
        type: redact_pii
        input: cg_kept
        options: {keep_cols: [quality_score, avg_nll]}
  - - name: cg_chunks
      operator:
        type: chunk_documents
        input: cg_scrubbed
        options: {text_col: redacted, chunk_tokens: 16, overlap: 4}
  - - name: cg_ordered
      query: >
        SELECT c.*, s.quality_score, s.avg_nll, c.doc_id * 1000 + c.chunk_id AS ord
        FROM cg_chunks c JOIN cg_scrubbed s ON c.doc_id = s.doc_id
  - - name: cg_vocab
      query: >
        SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id
        FROM (SELECT DISTINCT explode(split(chunk_text, ' ')) AS token FROM cg_ordered) t
    - name: cg_tokenized
      query: SELECT *, split(chunk_text, ' ') AS tokens FROM cg_ordered
  - - name: cg_encoded
      operator:
        type: tokens_to_ids
        input: cg_tokenized
        options:
          vocab: cg_vocab
          id_col: ord
          keep_cols: [doc_id, chunk_id, n_chunk_tokens, chunk_text]
  - - name: cg_shards
      operator:
        type: pack_shards
        input: cg_encoded
        options: {token_col: n_chunk_tokens, order_col: ord, budget: 128, parts: 2}
destination:
  type: file
  name: cg_shards
  format: {type: parquet}
  single_file: false
  partition_columns: [pack_part]
  location: ${out_dir}
"""


def _corpus(root):
    """120 train documents (some carrying an eval span or PII) and 10
    eval documents over a 300-word vocabulary."""
    rng = random.Random(7)
    words = [f"w{i}" for i in range(300)]

    def doc(lo, hi):
        return [rng.choice(words) for _ in range(rng.randint(lo, hi))]

    evals = [doc(20, 40) for _ in range(10)]
    train = []
    for i in range(120):
        toks = doc(30, 80)
        if i % 10 == 0:
            ev = evals[i % len(evals)]
            toks[5:5] = ev[:12]
        if i % 7 == 0:
            toks += ["contact", f"user{i}@example.com"]
        train.append(" ".join(toks))
    pq.write_table(
        pa.table({"doc_id": list(range(len(train))), "text": train}),
        root / "train.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(10_000, 10_000 + len(evals))),
                "text": [" ".join(e) for e in evals],
            }
        ),
        root / "eval.parquet",
    )


def _codegen_cache(spark):
    """Spark's process-wide cache of compiled generated classes."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(cls.getField("MODULE$").get(None))


def test_codegen_cache_holds_a_pipelines_working_set(spark, tmp_path):
    """Warm runs of a pipeline that needs more generated classes than
    Spark's default cache of 100 holds compile (almost) none of them
    again: the session's cache is sized to the working set.  A warm run
    may still compile a few classes while adaptive execution settles on
    its plan variants (6-15 in the second run, seen), so the bound is
    10% of the cold run per warm run, over two warm runs."""
    from aqueducts_spark import load_pipeline_str, run_pipeline

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    _corpus(tmp_path)
    # start cold, whatever earlier tests left in the cache
    _codegen_cache(spark).invalidateAll()
    counts = []
    for run in range(3):
        params = {"in_dir": str(tmp_path), "out_dir": str(tmp_path / f"out{run}")}
        before = compiles.getCount()
        run_pipeline(spark, load_pipeline_str(CURATION_YAML, params=params))
        counts.append(compiles.getCount() - before)
        assert spark.read.parquet(params["out_dir"]).count() > 0
    cold, *warm = counts
    assert cold > 100, counts  # more than Spark's default cache holds
    assert sum(warm) <= len(warm) * cold // 10, counts
