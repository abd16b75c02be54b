"""The benchmark workloads: pipelines, operations and output checks.

An *operation* is what ``run_cpu_p50_s`` and ``run_p50_s`` time (CPU
and wall seconds): one pipeline run from
loading its YAML until its destination is written (on
``delta_incremental``, one streaming upsert).  Each operation is
followed by timed *reads* (a pipeline over what the operation wrote)
and by an untimed check of both against an independent reference
(Python, DuckDB, pyarrow and the benchmark's own ``_delta_log``
reader).

Workloads and why they were chosen; each is the other's null workload:

* ``text_curation`` — an operator pipeline submitted to an in-process
  ``ExecutorServer``: driver-side operator construction (eager jobs)
  dominates, token ids cross into a pandas UDF, and the config,
  sources, stages, operators, pipeline, destinations and executor
  layers all work; Delta and streaming idle.
* ``delta_incremental`` — streaming ``available_now`` Delta upserts,
  each followed by a CDC and snapshot read: the delta and streaming
  layers dominate, and a write that leaves more files or a longer log
  shows up as slower reads; operators and the executor idle.
"""

from __future__ import annotations

import hashlib
import re
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Iterator

import duckdb
import pyarrow.parquet as pq

from inputs import DELTA_SCHEMA
from deltalog import read_log
from harvest import Clock


@dataclass
class OpResult:
    """One timed operation and its timed read-backs.  Times are wall
    seconds and CPU seconds of the whole process tree."""

    op_s: float
    op_cpu_s: float
    reads: list[tuple[float, float]]  # (wall, cpu) per read
    rows_in: int
    bytes_in: int
    bytes_out: int
    ok: bool
    detail: str = ""
    traced: bool = False


def dir_usage(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    sizes = [p.stat().st_size for p in path.rglob("*") if p.is_file()]
    return len(sizes), sum(sizes)


def table_hash(rows) -> str:
    """Order-independent digest of a row multiset.  Every hashed column
    is an integer or a string, so both engines render it alike."""
    norm = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]


class Workload:
    """Base: subclasses provide ``round``, which yields the operations
    of one round; ``trace_next`` asks the tracer to record them."""

    name = ""
    trace_next = False
    # reads timed after each operation; more where a run holds few operations
    reads_per_op = 1

    def __init__(self, spark, inputs: Path, manifest: dict, work: Path, tracer):
        self.spark = spark
        self.inputs = inputs
        self.manifest = manifest
        self.work = work
        self.tracer = tracer
        work.mkdir(parents=True, exist_ok=True)

    def source_rows_bytes(self, tables: list[str]) -> tuple[int, int]:
        rows = sum(self.manifest[t]["rows"] for t in tables)
        size = sum(self.manifest[t]["bytes"] for t in tables)
        return rows, size

    def run_yaml(self, text: str, params: dict[str, str]):
        from aqueducts_spark import CollectingTracker, load_pipeline_str, run_pipeline

        pipeline = load_pipeline_str(text, params=params)
        return run_pipeline(self.spark, pipeline, CollectingTracker())

    def read_in_memory(
        self, text: str, params: dict[str, str], view: str
    ) -> tuple[list[tuple], list[tuple[float, float]]]:
        """Run a read pipeline ending in an ``in_memory`` destination and
        collect the view, ``reads_per_op`` times; returns the rows of the
        last read and the (wall, cpu) seconds of each."""
        times = []
        for _ in range(self.reads_per_op):
            clock = Clock()
            result = self.run_yaml(text, params)
            rows = [tuple(r) for r in result.result.collect()]
            times.append(clock.read())
            self.spark.catalog.dropTempView(view)
            result.result.unpersist()
        return rows, times

    def round(self) -> Iterator[Callable[[], OpResult]]:
        raise NotImplementedError

    def close(self) -> None:
        pass


def read_parquet_dir(path: Path, cols: list[str]) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
        ).fetchall()
    finally:
        con.close()


# ----------------------------------------------------------- text_curation

QUALITY_MIN = 0.68
NLL_MAX = 6.95
NGRAM_N = 8
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
# the PII shapes the generator plants, each a single whitespace token
PII_TAGS = [
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "[EMAIL]"),
    (re.compile(r"\b\d{3}-\d{3}-\d{4}\b"), "[PHONE]"),
]

CURATION_YAML = """
version: "v2"
sources:
  - type: directory
    name: train
    format: {type: parquet}
    location: ${in_dir}/train
  - type: file
    name: eval_docs
    format: {type: parquet}
    location: ${in_dir}/eval.parquet
stages:
  - - name: exact_clean
      operator:
        type: decontaminate
        input: train
        options: {benchmark: eval_docs, n: %(n)d, threshold: 1}
  - - name: decontaminated
      operator:
        type: fuzzy_decontaminate
        input: exact_clean
        options: {benchmark: eval_docs, threshold: 0.6}
  - - name: quality
      operator:
        type: quality_score
        input: decontaminated
    - name: lm
      operator:
        type: unigram_logprob
        input: decontaminated
  - - name: kept
      query: >
        SELECT d.doc_id, d.text, q.quality_score, m.avg_nll
        FROM decontaminated d
        JOIN quality q ON d.doc_id = q.doc_id
        JOIN lm m ON d.doc_id = m.doc_id
        WHERE q.quality_score >= %(qmin)s AND m.avg_nll <= %(nll)s
  - - name: scrubbed
      operator:
        type: redact_pii
        input: kept
        options: {keep_cols: [quality_score, avg_nll]}
  - - name: chunks
      operator:
        type: chunk_documents
        input: scrubbed
        options: {text_col: redacted, chunk_tokens: %(chunk)d, overlap: %(overlap)d}
  - - name: ordered_chunks
      query: >
        SELECT c.*, s.quality_score, s.avg_nll, c.doc_id * 1000 + c.chunk_id AS ord
        FROM chunks c JOIN scrubbed s ON c.doc_id = s.doc_id
  - - name: vocab
      query: >
        SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id
        FROM (SELECT DISTINCT explode(split(chunk_text, ' ')) AS token FROM ordered_chunks) t
    - name: tokenized
      query: SELECT *, split(chunk_text, ' ') AS tokens FROM ordered_chunks
  - - name: encoded
      operator:
        type: tokens_to_ids
        input: tokenized
        options:
          vocab: vocab
          id_col: ord
          keep_cols: [doc_id, chunk_id, n_chunk_tokens, chunk_text, quality_score, avg_nll]
  - - name: shards
      operator:
        type: pack_shards
        input: encoded
        options: {token_col: n_chunk_tokens, order_col: ord, budget: 512, parts: 4}
destination:
  type: file
  name: shards
  format: {type: parquet}
  single_file: false
  partition_columns: [pack_part]
  location: ${out_dir}
""" % {"n": NGRAM_N, "qmin": QUALITY_MIN, "nll": NLL_MAX, "chunk": CHUNK_TOKENS, "overlap": CHUNK_OVERLAP}

CURATION_READ_YAML = """
version: "v2"
sources:
  - type: directory
    name: shards_out
    format: {type: parquet}
    location: ${out_dir}
stages:
  - name: shard_summary
    query: >
      SELECT pack_part, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
             sum(n_chunk_tokens) AS n_tokens
      FROM shards_out GROUP BY pack_part
destination:
  type: in_memory
  name: shard_summary_out
"""


def ngrams(text: str, n: int) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def expected_chunks(text: str) -> list[str]:
    """The windows a kept document must be cut into: PII tagged, then
    lowercased whitespace tokens in overlapping fixed-size windows that
    cover every token."""
    for pattern, tag in PII_TAGS:
        text = pattern.sub(tag, text)
    toks = text.lower().split()
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    n = 1 + -(-max(len(toks) - CHUNK_TOKENS, 0) // stride)
    return [" ".join(toks[k * stride : k * stride + CHUNK_TOKENS]) for k in range(n)]


class TextCuration(Workload):
    """Submitted to an in-process ``ExecutorServer``, one loopback
    connection at a time."""

    name = "text_curation"
    reads_per_op = 5

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from executor_host import ExecutorHost

        self.host = ExecutorHost(self.spark)
        train = pq.read_table(self.inputs / "train").select(["doc_id", "text"]).to_pydict()
        evals = pq.read_table(self.inputs / "eval.parquet").column("text").to_pylist()
        eval_grams = set().union(*(ngrams(t, NGRAM_N) for t in evals))
        self.chunks = {i: expected_chunks(t) for i, t in zip(train["doc_id"], train["text"])}
        self.contaminated = {
            i for i, t in zip(train["doc_id"], train["text"]) if ngrams(t, NGRAM_N) & eval_grams
        }
        self.rows_in, self.bytes_in = self.source_rows_bytes(["train", "eval"])

    def check(self, out: Path, summary: list[tuple]) -> tuple[bool, str]:
        cols = ["doc_id", "chunk_id", "quality_score", "avg_nll", "n_chunk_tokens", "pack_part",
                "chunk_text", "token_ids"]
        rows = read_parquet_dir(out, cols)
        keys = [(r[0], r[1]) for r in rows]
        ids = {r[0] for r in rows}
        problems = []
        if not rows:
            problems.append("no output rows")
        if len(set(keys)) != len(keys):
            problems.append("duplicate (doc_id, chunk_id)")
        if ids - self.chunks.keys():
            problems.append(f"{len(ids - self.chunks.keys())} ids not in the input")
        got: dict[int, dict[int, str]] = {}
        for r in rows:
            got.setdefault(r[0], {})[r[1]] = r[6]
        torn = [i for i in ids & self.chunks.keys() if got[i] != dict(enumerate(self.chunks[i]))]
        if torn:
            problems.append(f"{len(torn)} kept docs not chunked exactly as their input")
        token_ids: dict[str, int] = {}
        for r in rows:
            for tok, tid in zip(r[6].split(" "), r[7]):
                token_ids.setdefault(tok, tid)
        if any([token_ids[t] for t in r[6].split(" ")] != list(r[7]) for r in rows) or len(
            set(token_ids.values())
        ) != len(token_ids):
            problems.append("token ids are not one consistent id per distinct token")
        if ids & self.contaminated:
            problems.append(f"{len(ids & self.contaminated)} contaminated docs kept")
        if any(r[2] < QUALITY_MIN or r[3] > NLL_MAX for r in rows):
            problems.append("score below threshold")
        want = {}
        for r in rows:
            agg = want.setdefault(r[5], [0, set(), 0])
            agg[0] += 1
            agg[1].add(r[0])
            agg[2] += r[4]
        want_rows = [(p, a[0], len(a[1]), a[2]) for p, a in want.items()]
        if table_hash(summary) != table_hash(want_rows):
            problems.append("read summary differs from the files")
        return not problems, "; ".join(problems)

    def operation(self) -> OpResult:
        from aqueducts_spark.executor.client import submit_pipeline

        out = self.work / "shards"
        params = {"in_dir": str(self.inputs), "out_dir": str(out)}
        reply = {}

        def submit():
            reply.update(submit_pipeline(
                "127.0.0.1",
                self.host.port,
                CURATION_YAML,
                params=params,
                api_key=self.host.api_key,
                on_message=self.tracer.on_executor_message,
                timeout=300,
            ))

        op_s, op_cpu_s = self.tracer.run_operation(submit, self.trace_next)
        result = OpResult(op_s, op_cpu_s, [], self.rows_in, self.bytes_in, 0, False, traced=self.trace_next)
        if reply.get("type") != "succeeded":
            result.detail = str(reply)[:300]
            return result
        summary, result.reads = self.read_in_memory(CURATION_READ_YAML, {"out_dir": str(out)}, "shard_summary_out")
        result.ok, result.detail = self.check(out, summary)
        files, result.bytes_out = dir_usage(out)
        self.tracer.add_destination_output(files, result.bytes_out)
        return result

    def round(self):
        yield self.operation

    def close(self) -> None:
        self.host.close()


# -------------------------------------------------------- delta_incremental

_DELTA_TYPES = {"int64": "int64", "int32": "int32", "string": "string"}
DELTA_FIELDS = "\n".join(
    f"          - {{name: {f.name}, data_type: {_DELTA_TYPES[str(f.type)]}}}" for f in DELTA_SCHEMA
)
DELTA_COLS = [f.name for f in DELTA_SCHEMA]
DELTA_KEYS = ["l_orderkey", "l_linenumber"]

DELTA_UPSERT_YAML = """
version: "v2"
sources:
  - type: file
    name: changes
    streaming: true
    format:
      type: parquet
      options:
        schema:
%s
    location: ${incoming}
stages:
  - name: batch
    query: SELECT %s FROM changes
streaming:
  trigger: available_now
  checkpoint_dir: ${checkpoint}
  timeout_sec: 120
destination:
  type: delta
  name: lineitem_delta
  location: ${table}
  write_mode: {operation: upsert, params: [l_orderkey, l_linenumber]}
  partition_columns: [l_shipmonth]
""" % (DELTA_FIELDS, ", ".join(DELTA_COLS))

DELTA_READ_YAML = """
version: "v2"
sources:
  - type: delta
    name: cdc
    location: ${table}
    changes_from: ${prev}
  - type: delta
    name: snap
    location: ${table}
stages:
  - - name: cdc_rows
      query: >
        SELECT 'cdc' AS kind, _change_type AS change_type, l_orderkey,
               l_linenumber, l_partkey, l_quantity, l_price_cents, l_shipmonth
        FROM cdc
    - name: month_agg
      query: >
        SELECT 'agg' AS kind, 'snapshot' AS change_type, count(*) AS l_orderkey,
               CAST(NULL AS INT) AS l_linenumber, sum(l_partkey) AS l_partkey,
               sum(l_quantity) AS l_quantity, sum(l_price_cents) AS l_price_cents,
               l_shipmonth
        FROM snap GROUP BY l_shipmonth
  - - name: read_result
      query: SELECT * FROM cdc_rows UNION ALL SELECT * FROM month_agg
destination:
  type: in_memory
  name: read_result_out
"""


@dataclass
class DeltaStep:
    """Expected state after one batch: snapshot digest, CDC rows and
    the per-month aggregate read back."""

    snapshot_hash: str
    read_hash: str


def delta_reference(inputs: Path, n_batches: int) -> list[DeltaStep]:
    """Apply the batches to the base in DuckDB: delete every row whose
    key a batch carries, then insert all of the batch's rows."""
    con = duckdb.connect()
    cols = ", ".join(DELTA_COLS)
    on = " AND ".join(f"s.{k} = b.{k}" for k in DELTA_KEYS)
    steps = []
    try:
        con.execute(
            f"CREATE TABLE s AS SELECT {cols} FROM "
            f"read_parquet('{inputs}/delta_base/*/*.parquet', hive_partitioning=true)"
        )
        for i in range(n_batches):
            con.execute(
                f"CREATE OR REPLACE TABLE b AS SELECT {cols} FROM "
                f"read_parquet('{inputs}/batches/batch-{i:02d}.parquet')"
            )
            deletes = con.execute(
                f"SELECT 'cdc', 'delete', {cols} FROM s WHERE EXISTS (SELECT 1 FROM b WHERE {on})"
            ).fetchall()
            inserts = con.execute(f"SELECT 'cdc', 'insert', {cols} FROM b").fetchall()
            con.execute(f"DELETE FROM s WHERE EXISTS (SELECT 1 FROM b WHERE {on})")
            con.execute(f"INSERT INTO s SELECT {cols} FROM b")
            agg = con.execute(
                "SELECT 'agg', 'snapshot', count(*), NULL, sum(l_partkey), sum(l_quantity), "
                "sum(l_price_cents), l_shipmonth FROM s GROUP BY l_shipmonth"
            ).fetchall()
            snap = con.execute(f"SELECT {cols} FROM s").fetchall()
            steps.append(
                DeltaStep(
                    table_hash(snap),
                    table_hash(deletes + inserts + agg),
                )
            )
    finally:
        con.close()
    return steps


def delta_snapshot_rows(table: Path) -> list[tuple]:
    """Rows of the latest snapshot, read from the live files named by
    the ``_delta_log`` — independent of the program's reader."""
    state = read_log(table / "_delta_log")
    rows = []
    for path, add in state.live.items():
        data = pq.read_table(table / path).to_pydict()
        month = add.get("partitionValues", {}).get("l_shipmonth")
        n = len(next(iter(data.values()))) if data else 0
        for i in range(n):
            rows.append(
                tuple(month if c == "l_shipmonth" else data[c][i] for c in DELTA_COLS)
            )
    return rows


class DeltaIncremental(Workload):
    """A round resets the table to a fresh copy of the base, then drains
    the fixed batch sequence, one streaming upsert per batch, each
    followed by a CDC + snapshot read."""

    name = "delta_incremental"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batches = sorted((self.inputs / "batches").glob("*.parquet"))
        self.expected = delta_reference(self.inputs, len(self.batches))
        self.base = self.inputs / "delta_base"
        self.batch_rows = self.manifest["batches"]["rows"] // len(self.batches)
        self.rounds = 0

    def _reset(self) -> tuple[Path, Path, Path]:
        root = self.work / "round"
        if root.exists():
            shutil.rmtree(root)
        table = root / "table"
        shutil.copytree(self.base, table)
        incoming = root / "incoming"
        incoming.mkdir()
        return table, incoming, root / "checkpoint"

    def round(self):
        table, incoming, checkpoint = self._reset()
        self.rounds += 1
        params = {"incoming": str(incoming), "checkpoint": str(checkpoint), "table": str(table)}
        for i, batch in enumerate(self.batches):
            yield lambda i=i, batch=batch: self.operation(i, batch, table, incoming, params)

    def operation(self, i, batch: Path, table: Path, incoming: Path, params) -> OpResult:
        shutil.copyfile(batch, incoming / batch.name)
        files_before, bytes_before = dir_usage(table)
        prev = read_log(table / "_delta_log").version
        op_s, op_cpu_s = self.tracer.run_operation(
            lambda: self.run_yaml(DELTA_UPSERT_YAML, params), self.trace_next, delta_table=table
        )
        files_after, bytes_after = dir_usage(table)
        self.tracer.add_destination_output(files_after - files_before, bytes_after - bytes_before)
        got, reads = self.read_in_memory(
            DELTA_READ_YAML, {"table": str(table), "prev": str(prev)}, "read_result_out"
        )
        want = self.expected[i]
        problems = []
        if table_hash(delta_snapshot_rows(table)) != want.snapshot_hash:
            problems.append(f"snapshot after batch {i} differs")
        if table_hash(got) != want.read_hash:
            problems.append(f"cdc/aggregate read after batch {i} differs")
        return OpResult(
            op_s, op_cpu_s, reads, self.batch_rows, batch.stat().st_size, bytes_after - bytes_before,
            not problems, "; ".join(problems), self.trace_next,
        )


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (TextCuration, DeltaIncremental)
}
