"""The driver scores a PREFIX of ``queries()`` (round 1: exactly the
first 50 of 96 keys, in insertion order).  These tests pin the prefix
ordering so a refactor can't silently push a coverage-critical gate out
of the scored window.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

# Every SQL-surface category (SURVEY §2.B) must have at least one gate
# inside the scored 50-key window.
CATEGORY_GATES = {
    "projection_filter_agg": "q01_pricing_summary",
    "joins": "q02_top_revenue_join",
    "window": "q03_window_rank",
    "grouping_sets": "q04_rollup",
    "set_ops": "q05_set_ops",
    "subquery": "q06_exists_subquery",
    "cte": "q07_cte",
    "recursive_cte": "q27_recursive_cte",
    "lateral": "q36_lateral",
    "scalar_subquery": "q38_scalar_subquery",
    "unnest": "q08_unnest_tokens",
    "string_fns": "q09_string_fns",
    "date_fns": "q10_date_fns",
    "json_fns": "q11_json_fns",
    "ordered_agg": "q29_string_agg",
    "semi_anti_join": "q15_semi_anti_join",
    "using_natural_join": "q49_using_natural_join",
    "array_fns": "q18_array_fns",
    "higher_order_fns": "q43_higher_order_fns",
    "map_hofs": "q52_map_hofs",
    # Rotated out of the scored window in round 4 to make room for the
    # web/probe/quantize operator families: q12 (CASE), q13 (HAVING),
    # q14 (DISTINCT agg), q17 (math), q37 (map fns).  Those expression
    # features also appear inside remaining scored gates, and the
    # rotated gates stay oracle-verified in tests/test_oracle.py.
    "topk": "q20_topk",
    "sessionize": "q21_sessionize",
    "try_cast": "q41_try_cast",
    "nulls_order": "q48_nulls_order_offset",
}

# One gate per training-data operator family inside the scored window.
FAMILY_GATES = {
    "exact_dedup": "op_exact_dedup",
    # ROTATION r9 (VERDICT r8 next-steps #4): op_minhash_pairs and
    # op_line_dedup rotated out — MinHash banding is exercised inside
    # the still-scored op_fuzzy_dedup (its first stage), line dedup
    # stays oracle-verified in tests/test_oracle.py; the freed slots
    # score the r8 streaming-window and hybrid-retrieval families.
    "minhash_lsh": "op_fuzzy_dedup",
    "fuzzy_dedup": "op_fuzzy_dedup",
    "streaming_window": "pl_streaming_window",
    "hybrid_retrieval": "sim_hybrid_topk",
    # ROTATION r6 (VERDICT r5 next-steps #3): op_bpe_pairs replaced
    # op_simhash in the scored window — the tokenizer/BPE family (train +
    # pair-counts + encode) had zero driver-scored representatives while
    # the dedup family held 7 of the 50 slots.  op_simhash stays
    # oracle-verified in tests/test_oracle.py.
    "bpe_tokenizer": "op_bpe_pairs",
    "embed_neardup": "op_embed_neardup_lsh",
    # ROTATION r5 (VERDICT r4 next-steps #5): op_dsir_weights replaced
    # op_span_dedup in the scored window — selection was the only family
    # with no driver-scored representative, while the dedup family held 7
    # slots.  op_span_dedup stays oracle-verified in tests/test_oracle.py.
    "selection": "op_dsir_weights",
    "decontam": "op_decontam",
    "similarity": "sim_topk_bruteforce",
    "asof_join": "op_asof_join",
    "range_join": "op_range_join",
    # ROTATION r10 (VERDICT r9 next-steps #6): op_simhash_neardup
    # replaced op_time_rollup — the simhash/Hamming family (production
    # image/text near-dup screen) had zero scored representation since
    # r6 while temporal held three slots.  op_time_rollup stays
    # oracle-verified in tests/test_oracle.py.
    "simhash_neardup": "op_simhash_neardup",
    "kmv": "op_kmv_distinct",
    "cms": "op_cms_freq",
    "mixing": "op_weighted_mix",
    "packing": "op_pack_shards",
    "quality": "op_quality_score",
    "langid": "op_langid",
    "sampling": "op_hash_sample",
    "multimodal": "mm_byte_stats",
    "pipeline": "pl_pipeline_yaml",
    # ROTATION r7: op_kn_nll replaced op_url_canonicalize (LM-scoring
    # family had no scored representative; web held three slots).
    "lm_scoring": "op_kn_nll",
    "web_url_dedup": "op_url_dedup",
    "web_domain_cap": "op_domain_cap",
    "quality_probe": "op_linear_probe",
    "embed_quantize": "op_quantize_embed",
}

SCORED_WINDOW = 50


def test_priority_list_is_exactly_the_key_set():
    keys = set(entrymod._all_queries())
    assert set(entrymod._GATE_PRIORITY) == keys
    assert len(entrymod._GATE_PRIORITY) == len(keys)  # no duplicates


def test_every_category_gate_is_inside_scored_window():
    prefix = set(list(entrymod.queries())[:SCORED_WINDOW])
    missing = {c: g for c, g in CATEGORY_GATES.items() if g not in prefix}
    assert not missing, f"SQL categories outside scored window: {missing}"


def test_every_family_gate_is_inside_scored_window():
    prefix = set(list(entrymod.queries())[:SCORED_WINDOW])
    missing = {f: g for f, g in FAMILY_GATES.items() if g not in prefix}
    assert not missing, f"operator families outside scored window: {missing}"


def test_oracle_order_matches_queries_order():
    qkeys = [k for k in entrymod.queries() if k in entrymod.oracle_sql()]
    okeys = list(entrymod.oracle_sql())
    assert qkeys == okeys


def test_scored_window_gates_all_have_oracles_except_known():
    # keys with intentionally no SQL oracle (recall-asserted / binary ops)
    no_oracle_ok = {
        "sim_ivf_topk",
        "sim_pq_topk",
        "mm_byte_histogram",
        "mm_decode_image",
        "mm_frame_sample",
    }
    prefix = list(entrymod.queries())[:SCORED_WINDOW]
    oracles = entrymod.oracle_sql()
    missing = [k for k in prefix if k not in oracles and k not in no_oracle_ok]
    assert not missing, f"scored-window gates without oracle SQL: {missing}"


def test_coverage_md_totals_match_live_gates():
    """COVERAGE.md's 'Current totals' paragraph states the gate and
    exact-oracle counts and the rows-only keys; pin them to the live
    dicts so the document cannot go stale (VERDICT r4 missing #3)."""
    import re
    from pathlib import Path

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    rows_only = sorted(set(q) - set(o))
    text = Path(__file__).resolve().parent.parent.joinpath("COVERAGE.md").read_text()
    m = re.search(
        r"Current totals: \*\*(\d+) gate queries, (\d+) with exact DuckDB value\noracles\*\*",
        text,
    )
    assert m, "COVERAGE.md 'Current totals' paragraph not found"
    assert int(m.group(1)) == len(q), (m.group(1), len(q))
    assert int(m.group(2)) == len(o), (m.group(2), len(o))
    m2 = re.search(r"The (\d+) rows-only keys", text)
    assert m2 and int(m2.group(1)) == len(rows_only), (m2, rows_only)
    for key in rows_only:
        assert f"`{key}`" in text, f"rows-only key {key} not named in COVERAGE.md"


def test_bench_stdout_line_drops_the_same_gates_whatever_the_timings():
    # bench.py prints one line, recorded only as its last 2000 bytes;
    # when every gate does not fit, the dropped gates must be the tail
    # of _GATE_PRIORITY, not whichever ran fastest this time
    import json

    import bench

    names = list(bench.BENCH_QUERIES)
    outs = [
        {"metric": "m", "value": v, "unit": "sec", "sf": 0.1,
         "queries": {n: t(i) for i, n in enumerate(names)}}
        for v, t in (
            (1.5, lambda i: 0.5),
            (12345.678, lambda i: (i * 7919 % 97) * 10.0 ** (i % 3 - 1) + 0.003),
        )
    ]
    lines = [bench._stdout_line(o) for o in outs]
    assert all(len(s) <= bench._LINE_BYTES for s in lines)
    kept = [set(json.loads(s)["queries"]) for s in lines]
    assert kept[0] == kept[1]
    dropped = set(names) - kept[0]
    assert dropped, "the full gate set should not fit one line"
    rank = {k: i for i, k in enumerate(entrymod._GATE_PRIORITY)}
    assert min(rank[k] for k in dropped) > max(rank[k] for k in kept[0])
    assert json.loads(lines[0])["omitted"] == len(dropped)
