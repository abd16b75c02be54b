"""Seeded input generator for the pipeline benchmark.

Every table is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files.  The corpus is ``COPIES`` id-shifted,
text-perturbed copies of one seeded base shard (the construction
``tools/scale_probe.py`` uses), so its near-duplicate rate stays fixed
as it grows.

Outputs are cached per seed under
``<work>/inputs/<workload>-s<seed>-<digest of this file>`` with a
``manifest.json`` recording rows and bytes per table; a half-written
directory (no manifest) is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - registers pa.compute
import pyarrow.parquet as pq

COPIES = 2
DOC_SHIFT = 1_000_000

LANGS = ["en", "de", "fr", "es", "zh"]

# sizes of one base shard; the benchmark's inputs are these times COPIES
CORPUS_DOCS = 400
CORPUS_EVAL_DOCS = 40
CORPUS_NEAR_DUP_SHARE = 0.10
CORPUS_CONTAMINATED_SHARE = 0.04
CORPUS_PII_SHARE = 0.10
VOCAB = 4_000
DELTA_ORDERS = 6_000
DELTA_MONTHS = 24
DELTA_BATCHES = 4
DELTA_BATCH_SHARE = 0.005
DELTA_NEW_KEY_SHARE = 0.25


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _lineitems(rng: np.random.Generator, n_orders: int, first_key: int = 1):
    """(orderkey, linenumber) pairs with 1..7 lines per order."""
    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(first_key, first_key + n_orders, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    linenos = (np.arange(lines.sum()) - np.repeat(starts, lines) + 1).astype(np.int32)
    return okeys, linenos


# -------------------------------------------------------------- corpus


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, VOCAB)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


def _docs(rng, vocab, probs, n, lo=30, hi=120) -> list[list[str]]:
    lens = rng.integers(lo, hi, n)
    flat = rng.choice(len(vocab), lens.sum(), p=probs)
    out, at = [], 0
    for ln in lens:
        out.append(list(vocab[flat[at : at + ln]]))
        at += ln
    return out


def build_corpus(rng: np.random.Generator, out: Path) -> None:
    """Train docs (with near-duplicates, eval leaks and PII) plus a
    held-out eval split.  ``doc_id``s of the eval split start at
    ``DOC_SHIFT * COPIES`` so they never collide with train ids."""
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1)
    probs = 1.0 / ranks**0.9
    probs /= probs.sum()
    n = CORPUS_DOCS
    docs = _docs(rng, vocab, probs, n)
    eval_docs = _docs(rng, vocab, probs, CORPUS_EVAL_DOCS, 40, 80)
    # near-duplicates: copy an earlier doc and substitute ~5% of tokens
    n_dup = int(n * CORPUS_NEAR_DUP_SHARE)
    for i in rng.choice(np.arange(1, n), n_dup, replace=False):
        src = list(docs[int(rng.integers(0, i))])
        for j in rng.choice(len(src), max(1, len(src) // 20), replace=False):
            src[j] = vocab[rng.integers(0, len(vocab))]
        docs[i] = src
    # eval leaks: splice a 16-token span of an eval doc into a train doc
    for i in rng.choice(n, int(n * CORPUS_CONTAMINATED_SHARE), replace=False):
        ev = eval_docs[int(rng.integers(0, len(eval_docs)))]
        at = int(rng.integers(0, len(ev) - 16))
        pos = int(rng.integers(0, len(docs[i])))
        docs[i] = docs[i][:pos] + ev[at : at + 16] + docs[i][pos:]
    texts = [" ".join(d) for d in docs]
    for i in rng.choice(n, int(n * CORPUS_PII_SHARE), replace=False):
        user = vocab[rng.integers(0, len(vocab))]
        phone = f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
        texts[i] += f" contact {user}@example.com or {phone}"
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    sources = np.array([f"src{i}" for i in range(8)])[rng.integers(0, 8, n)]
    for k in range(COPIES):
        # per-copy suffix token: near-duplicate groups never span copies
        suffix = f" cp{k}" if k else ""
        text_k = [t + suffix for t in texts]
        table = pa.table(
            {
                "doc_id": np.arange(n, dtype=np.int64) + k * DOC_SHIFT,
                "text": text_k,
                "lang": langs,
                "source": sources,
                "n_chars": np.array([len(t) for t in text_k], dtype=np.int64),
            }
        )
        _write(table, out / "train" / f"part-{k}.parquet")
    ev_ids = np.arange(len(eval_docs), dtype=np.int64) + COPIES * DOC_SHIFT
    _write(
        pa.table(
            {
                "doc_id": ev_ids,
                "text": [" ".join(d) for d in eval_docs],
                "lang": ["en"] * len(eval_docs),
                "source": ["eval"] * len(eval_docs),
                "n_chars": np.array([len(" ".join(d)) for d in eval_docs], dtype=np.int64),
            }
        ),
        out / "eval.parquet",
    )


# --------------------------------------------------------------- delta

DELTA_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_partkey", pa.int64()),
        ("l_quantity", pa.int64()),
        ("l_price_cents", pa.int64()),
        ("l_shipmonth", pa.string()),
    ]
)


def _months() -> list[str]:
    return [f"{1997 + m // 12}-{m % 12 + 1:02d}" for m in range(DELTA_MONTHS)]


def write_delta_table(table: pa.Table, root: Path, seed_id: int) -> None:
    """A Delta table partitioned by ``l_shipmonth``: one parquet file per
    month and a single commit (protocol 1/2) adding them.  Timestamps
    and ids are fixed, so the bytes depend on the seed alone."""
    months = sorted(set(table.column("l_shipmonth").to_pylist()))
    data_cols = [c for c in table.column_names if c != "l_shipmonth"]
    spark_types = {pa.int64(): "long", pa.int32(): "integer", pa.string(): "string"}
    schema = {
        "type": "struct",
        "fields": [
            {"name": f.name, "type": spark_types[f.type], "nullable": True, "metadata": {}}
            for f in table.schema
        ],
    }
    actions = [
        {"commitInfo": {"timestamp": 0, "operation": "CREATE TABLE", "engineInfo": "perfbench"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": f"00000000-0000-4000-8000-{seed_id % 16**12:012x}",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["l_shipmonth"],
            "configuration": {},
            "createdTime": 0,
        }},
    ]
    month_col = table.column("l_shipmonth")
    for month in months:
        part = table.filter(pa.compute.equal(month_col, month)).select(data_cols)
        rel = f"l_shipmonth={month}/part-00000.snappy.parquet"
        _write(part, root / rel)
        actions.append({"add": {
            "path": rel,
            "partitionValues": {"l_shipmonth": month},
            "size": (root / rel).stat().st_size,
            "modificationTime": 0,
            "dataChange": True,
        }})
    log = root / "_delta_log"
    log.mkdir(parents=True)
    (log / f"{0:020d}.json").write_text("".join(json.dumps(a) + "\n" for a in actions))


def build_delta(rng: np.random.Generator, out: Path) -> None:
    """The base Delta table plus ``DELTA_BATCHES`` change batches.  Updates
    pick existing keys weighted toward recent months and always change
    the row; the rest of each batch are new keys."""
    months = np.array(_months())
    okeys, linenos = _lineitems(rng, DELTA_ORDERS)
    n = len(okeys)
    month_idx = rng.integers(0, DELTA_MONTHS, n)
    base = pa.table(
        {
            "l_orderkey": okeys,
            "l_linenumber": pa.array(linenos),
            "l_partkey": rng.integers(1, 20_001, n),
            "l_quantity": rng.integers(1, 51, n),
            "l_price_cents": rng.integers(90_000, 10_500_000, n),
            "l_shipmonth": months[month_idx],
        },
        schema=DELTA_SCHEMA,
    )
    write_delta_table(base, out / "delta_base", seed_id=int(rng.integers(0, 2**63)))
    per_batch = max(2, int(n * DELTA_BATCH_SHARE))
    n_new = max(1, int(per_batch * DELTA_NEW_KEY_SHARE))
    weights = (month_idx + 1.0) ** 2
    weights /= weights.sum()
    next_okey = int(okeys.max()) + 1
    for b in range(DELTA_BATCHES):
        upd = rng.choice(n, per_batch - n_new, replace=False, p=weights)
        new_okeys = np.arange(next_okey, next_okey + n_new, dtype=np.int64)
        next_okey += n_new
        keys_o = np.concatenate([okeys[upd], new_okeys])
        keys_l = np.concatenate([linenos[upd], np.ones(n_new, dtype=np.int32)])
        m = np.concatenate(
            [month_idx[upd], rng.integers(DELTA_MONTHS - 3, DELTA_MONTHS, n_new)]
        )
        # quantity 100+batch never occurs in the base or an earlier batch,
        # so every update really changes its row
        batch = pa.table(
            {
                "l_orderkey": keys_o,
                "l_linenumber": pa.array(keys_l),
                "l_partkey": rng.integers(1, 20_001, per_batch),
                "l_quantity": np.full(per_batch, 100 + b, dtype=np.int64),
                "l_price_cents": rng.integers(90_000, 10_500_000, per_batch),
                "l_shipmonth": months[m],
            },
            schema=DELTA_SCHEMA,
        )
        _write(batch, out / "batches" / f"batch-{b:02d}.parquet")


BUILDERS = {
    "text_curation": build_corpus,
    "delta_incremental": build_delta,
}


def ensure_inputs(workload: str, seed: int, work: Path) -> tuple[Path, dict]:
    """Build (or reuse) the inputs of ``workload`` for ``seed``; returns
    the directory and its manifest ``{table: {rows, bytes}}``."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:8]
    out = work / "inputs" / f"{workload}-s{seed}-{version}"
    manifest_path = out / "manifest.json"
    if manifest_path.exists():
        return out, json.loads(manifest_path.read_text())
    if out.exists():
        shutil.rmtree(out)
    # one stream per workload: adding a workload never shifts another's data
    rng = np.random.default_rng([seed, sorted(BUILDERS).index(workload)])
    BUILDERS[workload](rng, out)
    manifest: dict[str, dict] = {}
    for path in sorted(out.rglob("*.parquet")):
        rel = path.relative_to(out)
        table = rel.parts[0].removesuffix(".parquet")
        entry = manifest.setdefault(table, {"rows": 0, "bytes": 0})
        entry["rows"] += pq.ParquetFile(path).metadata.num_rows
        entry["bytes"] += os.path.getsize(path)
    manifest_path.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return out, manifest
