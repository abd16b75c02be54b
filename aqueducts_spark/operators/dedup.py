"""Deduplication operators.

All of these are pure DataFrame compositions — no Python UDFs — so the
whole plan stays inside whole-stage codegen and scales with the
cluster. Determinism note: hashes default to ``md5`` so results are
reproducible across engines and verifiable against a SQL oracle; every
hash-keyed operator also takes ``hash_fn="xxhash64"`` for the
native-codegen fast path (Spark-internal determinism only — see
SCALE.md for the speed/collision trade-offs).

Scale design (100 TB):

* exact dedup is one hash-shuffle on the dedup key; with
  ``spark.sql.adaptive`` on, skewed keys split automatically;
* MinHash+LSH replaces the quadratic all-pairs comparison with a
  band-bucket equi-join: only documents sharing a band hash are ever
  paired. Bands are plain group-bys — three shuffles total, all on
  uniformly-distributed md5 keys (no skew by construction);
* n-gram Jaccard join is exposed for verification and small corpora;
  its doc-pair blowup makes LSH the scale path, and the docstring of
  each function says which to use;
* SimHash packs a document into one 60-bit integer, or an array of two
  for up to 120 bits; near-dup candidates are hamming-ball lookups over
  that signature, by one width-generic core (``_simhash``,
  ``_hamming_pairs``, ``_hamming_filter``).
"""

from __future__ import annotations

import math
import re
from functools import reduce
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalized_tokens",
    "word_ngrams",
    "word_shingles",
    "exact_duplicates",
    "exact_dedup",
    "dup_weights",
    "dedup_against",
    "drop_common_lines",
    "remove_duplicated_spans",
    "minhash_bands",
    "minhash_signatures",
    "fuzzy_filter_against",
    "with_minhash_band_keys",
    "minhash_candidate_pairs",
    "fuzzy_dedup",
    "jaccard_pairs",
    "simhash",
    "simhash_wide",
    "hamming_pairs",
    "hamming_filter",
    "hamming_pairs_wide",
    "hamming_filter_wide",
    "embedding_near_duplicates",
    "embedding_near_duplicates_lsh",
    "semantic_dedup",
]


# the operator name heading each line of a physical plan's tree string
# (after the tree drawing and any ``*(n)`` codegen stage id)
_PLAN_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\) )?(\w+)", re.M)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input has far fewer partitions than the
    cluster has slots (e.g. one small parquet file read locally).

    At real scale inputs already have >= cores partitions and this is a
    no-op — it never introduces a shuffle on a well-partitioned 100 TB
    input; it only rescues the degenerate small-file case where one task
    would otherwise do all the work of an explosive operator.

    Streaming frames pass through untouched: the partition probe is a
    batch-only API, and a micro-batch's parallelism is the source's
    trigger sizing anyway — so every row-local operator built on this
    helper stays applicable to streams unchanged.

    Only a plan without exchanges, subqueries and cached scans is
    probed: counting the partitions of any other frame makes adaptive
    execution run its shuffle, broadcast and cache-building jobs while
    the caller is still building its plan (jobs outside any SQL
    execution, and run again by the real action).  Such a frame is not
    the small-file case, so it passes through.
    """
    if df.isStreaming:
        return df
    jqe = df._jdf.queryExecution()
    nodes = _PLAN_NODE.findall(jqe.executedPlan().toString())
    if any(n.endswith("Exchange") or "Subquery" in n or n.startswith("InMemory") for n in nodes):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if jqe.toRdd().getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def hashable_columns(df: DataFrame) -> list[str]:
    """Columns whose types Spark's hash functions accept: xxhash64/hash
    reject MAP (no canonical entry order) and VARIANT anywhere in the
    type — a content-hash fallback built over ``df.columns`` blindly
    would fail at analysis for any frame carrying crawl-metadata maps."""
    from pyspark.sql import types as T

    def ok(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, getattr(T, "VariantType", ())):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return [f.name for f in df.schema.fields if ok(f.dataType)]


def normalized_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens with empties removed."""
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit("")
    )


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _word_ngrams_sql(toks_sql: str, n: int) -> str:
    """The :func:`word_ngrams_col` expression as ONE SQL string — the
    same tree the Column form builds, rendered for a single
    ``F.expr`` parse (r11, guide §1.2 driver-side cost: the Column
    form issues ~110·n py4j round-trips, ~0.4 s of pure driver time
    per call at n=13, where the parser pays one)."""
    g = toks_sql
    for k in range(1, n):
        g = (
            f"zip_with({g}, slice({toks_sql}, {k + 1}, "
            f"greatest(size({toks_sql}) - {k}, 0)), "
            f"(a, b) -> concat_ws(' ', a, b))"
        )
    return (
        f"CASE WHEN size({toks_sql}) = 0 THEN array('') "
        f"ELSE slice({g}, 1, greatest(size({toks_sql}) - {n} + 1, 1)) END"
    )


def word_ngrams_col(toks: Column | str, n: int) -> Column:
    """All word n-grams of an ALREADY-TOKENIZED array column in order
    (array<string>, repeats kept; one partial gram when the doc is
    shorter than ``n``).

    Built as n-1 ``zip_with`` merges of the token array against its
    own shifted slices — O(n·tokens) per row. The obvious
    ``transform(sequence, i -> slice(toks, i, n))`` form is
    O(tokens²): higher-order functions evaluate interpreted (no
    codegen) and every ``slice`` call re-copies, which measured 7×
    slower on the documents corpus.

    Pass a NAMED COLUMN (stage ``normalized_tokens(text).alias(...)``
    in its own projection first) in hot paths: the gram tree below
    references ``toks`` ~2n+1 times, zip_with/slice evaluate
    interpreted where codegen CSE cannot reach, so an inlined regex
    split re-tokenizes the document per reference (measured −36% on a
    trigram explode pass at sf0.1 from staging; CollapseProject keeps
    the staging projection because it refuses to duplicate non-cheap
    expressions referenced more than once).

    Passing the staged column's NAME (a ``str``) builds the identical
    tree through one ``F.expr`` parse instead of ~110·n py4j
    round-trips (r11 — plan-construction time only; the analyzed
    expression, and therefore every result bit, is the same, pinned
    by test_dedup's construction-parity test).
    """
    if isinstance(toks, str):
        return F.expr(_word_ngrams_sql(_sql_ident(toks), n))
    grams = toks
    for k in range(1, n):
        # shifted tail; zip_with pads the short side with NULL and
        # concat_ws skips NULLs, giving partial grams that the final
        # slice drops (or keeps, once, for short docs)
        grams = F.zip_with(
            grams,
            F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    sliced = F.slice(grams, 1, F.greatest(F.size(toks) - n + 1, F.lit(1)))
    return F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(sliced)


def word_ngrams(text: Column, n: int) -> Column:
    """:func:`word_ngrams_col` over ``normalized_tokens(text)`` inline —
    fine for single-reference contexts; hot paths should stage the
    token array and call :func:`word_ngrams_col` (see its docstring)."""
    return word_ngrams_col(normalized_tokens(text), n)


def word_shingles_col(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of an ALREADY-STAGED token-array
    column (array<string>), first-occurrence order — the
    :func:`word_ngrams_col` contract; hot paths stage the tokens so
    the gram tree's ~2n+1 references share one regex split, and pass
    the staged NAME (str) for the one-parse construction."""
    return F.array_distinct(word_ngrams_col(toks, n))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (array<string>),
    first-occurrence order.  Inline form — see :func:`word_shingles_col`
    for multi-reference hot paths."""
    return word_shingles_col(normalized_tokens(text), n)


def _payload_key(cols: list[str], hash_fn: str = "md5") -> Column:
    """Fingerprint of the payload columns, NULL-distinct: each NULL
    column renders as a sentinel instead of being SKIPPED by concat_ws —
    otherwise ``('a', NULL)`` and ``(NULL, 'a')`` concatenate to the
    same string and distinct rows silently collide into one dedup key.

    ``md5`` (default): 32-hex-char key, 128-bit space — effectively
    collision-free at any corpus size, and reproducible by the DuckDB
    oracle.  ``xxhash64``: 8-byte bigint key — native codegen AND a 4x
    smaller shuffle payload, but a 64-bit space: the birthday bound
    means ~1 accidental key collision per ~5 billion distinct payloads,
    so EXACT dedup on trillion-row corpora should keep md5 (a collision
    silently merges two distinct rows)."""
    # null-marked + length-prefixed encoding: a bare separator join was
    # injectable — ('a\x1fb','c') and ('a','b\x1fc') concatenated to
    # the same string, silently merging distinct rows; and a value
    # literally equal to the NULL sentinel collided with a real NULL.
    # "V<len>:<value>" / "N" parts are prefix-free, so the joined form
    # is unambiguous for ANY byte content.
    def _part(c):
        v = F.col(c).cast("string")
        return F.when(v.isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.length(v).cast("string"), F.lit(":"), v)
        )

    joined = F.concat_ws("", *[_part(c) for c in cols])
    if hash_fn == "xxhash64":
        return F.xxhash64(joined)
    if hash_fn != "md5":
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    return F.md5(joined)


def exact_duplicates(
    df: DataFrame, cols: list[str], hash_fn: str = "md5"
) -> DataFrame:
    """Groups of rows with identical values in ``cols`` (count > 1).

    One shuffle on the group key; grouping on a fingerprint of wide
    text columns (done here) keeps the shuffle key fixed-size
    regardless of document size — 32 bytes for md5, 8 for xxhash64
    (see :func:`_payload_key` for the collision trade-off).
    """
    return (
        df.groupBy(_payload_key(cols, hash_fn).alias("dup_key"))
        .agg(F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def drop_common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 2,
    sep: str = "\n",
    materialize_lines: bool = True,
    checkpoint_dir: Optional[str] = None,
    max_boilerplate: int = 10_000_000,
) -> DataFrame:
    """Cross-document boilerplate removal (the C4/RefinedWeb line-dedup
    step): split each document on ``sep``, drop every line that occurs
    in more than ``max_docs`` documents (navigation chrome, cookie
    banners, license footers), and reassemble the survivors in their
    original order.

    Output: ``id, cleaned, n_kept, n_dropped`` — one row per INPUT row
    (rows sharing an id are cleaned independently).

    Scale shape (r9 — ONE corpus scan, ZERO corpus shuffles): the text
    is split once into a per-document line array, and that parsed
    relation is materialized (``materialize_lines=True``, the default;
    ``checkpoint_dir`` selects the fault-tolerant form) so its two
    consumers never re-execute the scan — Spark/AQE does not share a
    subtree across consumers, and at 100 TB the second scan+parse IS
    the dominant cost.  The line document-frequency dedups within each
    document map-side (``array_distinct`` per doc) and pays one count
    shuffle whose volume is the DISTINCT-per-doc lines; the boilerplate
    set — lines above the threshold — is tiny by construction and is
    collapsed to a single broadcast MAP row, so the removal itself is a
    per-document higher-order ``filter`` with O(1) map lookups: no
    reassembly shuffle, no join, original line order preserved by
    construction.  ``max_boilerplate`` bounds the broadcast set loudly
    (a threshold low enough to flag half the corpus's distinct lines is
    a configuration bug, not a broadcast candidate).

    ``materialize_lines=False`` keeps the two-independent-scans shape
    (no executor storage; the source is scanned and parsed twice) for
    cheap-to-rescan local sources.
    """
    from .materialize import materialize

    # F.split takes a REGEX: quote the separator (\Q..\E) so split and
    # the literal array_join reassembly agree — sep='|' or '.' otherwise
    # splits on alternation-of-empties / any-char and mangles the text
    sep_re = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    src = ensure_parallelism(df)
    empty_arr = F.expr("CAST(array() AS ARRAY<STRING>)")
    parsed = src.select(
        F.col(id_col),
        F.coalesce(
            F.filter(
                F.split(F.col(text_col), sep_re), lambda l: F.trim(l) != ""
            ),
            empty_arr,
        ).alias("__parts"),
    )
    if materialize_lines:
        # lazy (eager=False): the two consumers are strictly SEQUENTIAL
        # (the broadcast map must finish building before the filter side
        # starts), so the first consumer fills the blocks with no race —
        # and no dedicated materialization job runs up front
        parsed = materialize(parsed, checkpoint_dir=checkpoint_dir, eager=False)
    common = (
        parsed.select(F.explode(F.array_distinct("__parts")).alias("line"))
        .groupBy("line")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_docs)
    )
    # collapse the boilerplate set to ONE broadcastable row carrying a
    # hash MAP (per-line membership is O(1); array_contains would make
    # each document O(lines x boilerplate)).  collect_list on an empty
    # relation yields [], so a corpus with no common lines degrades to
    # an empty map, not a NULL.
    bl_row = common.agg(
        F.collect_list("line").alias("__bl"),
        F.count("*").alias("__nbl"),
    ).select(
        F.map_from_arrays(
            F.col("__bl"),
            F.transform(F.col("__bl"), lambda _: F.lit(True)),
        ).alias("__blm"),
        F.assert_true(
            F.col("__nbl") <= F.lit(int(max_boilerplate)),
            F.lit(
                "drop_common_lines: boilerplate set exceeds "
                f"max_boilerplate={max_boilerplate} lines — the threshold "
                "flags too much of the corpus to broadcast; raise "
                "max_docs or max_boilerplate"
            ),
        ).alias("__guard"),
    )
    kept = F.filter(
        F.col("__parts"), lambda l: ~F.map_contains_key(F.col("__blm"), l)
    )
    return (
        parsed.join(F.broadcast(bl_row), how="cross")
        .where(F.col("__guard").isNull())
        .select(
            F.col(id_col),
            F.array_join(kept, sep).alias("cleaned"),
            F.size(kept).cast("bigint").alias("n_kept"),
            (F.size("__parts") - F.size(kept)).cast("bigint").alias("n_dropped"),
        )
    )


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    cols: Sequence[str] = ("text",),
    hash_fn: str = "md5",
) -> DataFrame:
    """Keep exactly one row (the min ``id_col``, NULL ids last) per
    distinct ``cols``.

    ``ROW_NUMBER() OVER (PARTITION BY md5(payload) ORDER BY id) = 1``:
    one shuffle keyed by the 32-byte payload fingerprint, the row
    travels once, and Spark 4 plans a map-side WindowGroupLimit.  (The
    previous min-id JOIN encoding lost every row whose id was NULL —
    ``NULL = NULL`` never matches a join condition — and paid a second
    join for the same shuffle.)
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(_payload_key(cols, hash_fn)).orderBy(
        F.col(id_col).asc_nulls_last()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dup_weights(
    df: DataFrame,
    cols: Sequence[str] = ("text",),
    alpha: float = 1.0,
    weight_col: str = "dup_weight",
    count_col: str | None = "dup_count",
    hash_fn: str = "md5",
) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, keep every
    row and attach a loss/sampling weight ``n**(-alpha)`` where ``n``
    is the size of the row's duplicate group over ``cols`` — the
    reweighting alternative to hard dedup (down-weight commonness,
    don't discard it; a duplicate group contributes total weight
    ``n**(1-alpha)``, so ``alpha=1`` makes each group count once like
    :func:`exact_dedup` would, ``alpha=0`` is a no-op, and values
    in between interpolate).

    One shuffle keyed by the fixed-size payload fingerprint (the row
    travels once — a window ``count`` over the key partition, same
    shuffle shape as :func:`exact_dedup`), no join, no second corpus
    pass.  Adds ``weight_col`` (DOUBLE) and, unless ``count_col=None``,
    the exact group size (BIGINT) for filtering/audit.  Weights are a
    pure function of the data — an external SQL engine reproduces them
    as ``POW(COUNT(*) OVER (PARTITION BY key), -alpha)``.
    """
    from pyspark.sql.window import Window

    if alpha < 0:
        raise ValueError(f"dup_weights: alpha must be >= 0, got {alpha}")
    out_names = [weight_col] + ([count_col] if count_col is not None else [])
    if len(set(out_names)) != len(out_names):
        raise ValueError(
            "dup_weights: weight_col and count_col must differ "
            f"(both {weight_col!r}) — identical names would silently "
            "overwrite the weight with the count"
        )
    clashes = [c for c in out_names if c in df.columns]
    if clashes:
        raise ValueError(
            f"dup_weights: output column(s) {clashes} already exist on "
            "the input — pass weight_col/count_col to rename"
        )
    w = Window.partitionBy(_payload_key(cols, hash_fn))
    n = F.count(F.lit(1)).over(w)
    out = df.withColumn(
        weight_col, F.pow(n.cast("double"), F.lit(-float(alpha)))
    )
    if count_col is not None:
        out = out.withColumn(count_col, n.cast("long"))
    return out


def dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    cols: Sequence[str] = ("text",),
    broadcast_corpus: bool = False,
    hash_fn: str = "md5",
) -> DataFrame:
    """Incremental dedup: rows of ``new_df`` whose ``cols`` payload does
    NOT already appear in ``corpus_df`` (the standard new-crawl vs
    existing-corpus step of a training-data pipeline).

    Anti-join on the md5 of the payload, so the shuffle key is 32 bytes
    and uniformly distributed regardless of how wide or skewed the
    payload columns are. At 100 TB the corpus fingerprint side is a
    one-column projection of the corpus — pushed down to a pure
    column scan — and the join is a shuffle anti-join on uniform keys;
    set ``broadcast_corpus`` when the corpus key set is small enough
    (e.g. an eval benchmark) to skip the shuffle entirely.
    """
    key = _payload_key(cols, hash_fn)
    corpus_keys = corpus_df.select(key.alias("__dedup_key")).distinct()
    if broadcast_corpus:
        corpus_keys = F.broadcast(corpus_keys)
    return (
        new_df.withColumn("__dedup_key", key)
        .join(corpus_keys, on="__dedup_key", how="left_anti")
        .drop("__dedup_key")
    )


# Per-seed hash for the MinHash family.  Each seed must be an
# INDEPENDENT hash of the shingle: an earlier construction derived one
# base hash and applied Carter-Wegman mixes (2s+1)*h + s^2+1 mod 2^61-1
# — but with h < 2^32 and multipliers <= 31 the product NEVER reaches
# the modulus, so the map is strictly monotone and every seed's argmin
# is the SAME shingle: all k "independent" minhashes agreed or differed
# TOGETHER (verified: 16/16 or 0/16 agreement, never in between),
# collapsing the LSH sensitivity curve 1-(1-j^r)^b to a single-hash
# probe with recall ~= j.  Now each seed hashes the shingle itself:
# md5 path — digest d = seed // 4 over the prefixed shingle
# ("{d}#" + shingle), seed's value is one of the digest's four
# disjoint 32-bit slices (4 seeds per md5, so k=16 costs 4 digests
# per shingle); xxhash64 path — one native seeded hash per seed.
_SEEDS_PER_DIGEST = 4


def _md5_digest_col(shingle, d: int):
    return F.md5(F.concat(F.lit(f"{d}#"), shingle))


def _slice32(digest, j: int):
    return F.conv(F.substring(digest, 8 * j + 1, 8), 16, 10).cast("long")


def _minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    hash_fn: str = "md5",
    dup_check_col: str | None = None,
) -> DataFrame:
    """(id, mh0..mh{k-1}) — one MinHash per seed, single aggregation.

    Each seed is an independent uniform 32-bit hash of the shingle
    (see the family note above — a shared-base-hash mix family made
    every seed's argmin the same shingle); the min over a document's
    shingle set is the classic MinHash estimator for Jaccard
    similarity, so ``E[fraction of agreeing components] = jaccard``.

    Deliberately NOT seed-exploded: all k mins are computed in one
    ``groupBy(id)`` with k ``min`` expressions, so the map side combines
    partially and the shuffle carries k values per document instead of
    k exploded rows per shingle (a 16x traffic difference at k=16).
    The k/4 md5 digests are staged into named columns so each is
    computed once per shingle, not once per slice.

    ``dup_check_col`` (a pre-assigned per-ROW tag column, e.g.
    ``monotonically_increasing_id``) opts into duplicate-id detection
    folded into this SAME aggregation — ``count_distinct(tag)`` rides
    the existing groupBy, no extra corpus pass — raising loudly when
    any id pools more than one non-empty input row (pooled rows would
    union their shingle sets into one signature silently).
    """
    extra = [F.col(dup_check_col)] if dup_check_col else []
    # staged token array (word_ngrams_col contract: one regex split per
    # row instead of one per gram-tree reference)
    from .sampling import _fresh_name

    tk = _fresh_name("__wtoks", df.columns)
    exploded = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            *extra,
            normalized_tokens(F.col(text_col)).alias(tk),
        )
        .select(
            F.col(id_col),
            *extra,
            F.explode(word_shingles_col(tk, shingle_n)).alias(
                "shingle"
            ),
        )
        .where(F.col("shingle") != "")
    )
    # the '' sentinel word_ngrams emits for empty/NULL docs is dropped:
    # otherwise EVERY contentless document gets the identical signature
    # and they all pile into one quadratic candidate bucket in every
    # band.  Empty docs share no content — they simply produce no
    # signature/pairs here; dedup them with exact_dedup if desired.
    if hash_fn == "xxhash64":
        hashed = exploded
        h_exprs = [
            F.pmod(
                F.xxhash64(F.lit(seed), F.col("shingle")), F.lit(1 << 32)
            )
            for seed in range(num_hashes)
        ]
    elif hash_fn == "md5":
        n_digests = -(-num_hashes // _SEEDS_PER_DIGEST)
        hashed = exploded.withColumns(
            {
                f"__dg{d}": _md5_digest_col(F.col("shingle"), d)
                for d in range(n_digests)
            }
        )
        h_exprs = [
            _slice32(
                F.col(f"__dg{seed // _SEEDS_PER_DIGEST}"),
                seed % _SEEDS_PER_DIGEST,
            )
            for seed in range(num_hashes)
        ]
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    aggs = [
        F.min(h_exprs[seed]).alias(f"mh{seed}")
        for seed in range(num_hashes)
    ]
    if dup_check_col:
        aggs.append(
            F.count_distinct(F.col(dup_check_col)).alias("__nrows")
        )
    sig = hashed.groupBy(id_col).agg(*aggs)
    if dup_check_col:
        dup_guard = F.assert_true(
            F.col("__nrows") <= 1,
            F.concat(
                F.lit(
                    "duplicate ids: id "
                ),
                # concat of a NULL id would NULL the whole message
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(
                    " appears on multiple non-empty rows — duplicate-id "
                    "rows pool into ONE union minhash signature and skew "
                    "every downstream jaccard; re-key the input"
                ),
            ),
        )
        sig = sig.where(dup_guard.isNull()).drop("__nrows")
    return sig


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "md5",
    sig_col: str = "minhash",
) -> DataFrame:
    """``(id, minhash array<long>)`` — the document's MinHash signature
    as ONE persistable array column: the fuzzy-dedup index "at rest".
    Write this table once for the existing corpus, then screen every
    new crawl against it with :func:`fuzzy_filter_against` — no text,
    no shingle sets, just ``num_hashes`` longs per document.

    Same construction as :func:`minhash_bands` (k/4 md5 digests per
    shingle, four independent 32-bit slices each, one
    map-side-combined aggregation);
    empty/NULL-text documents have no shingles and produce NO signature
    row (they carry no content to match on — dedup them with
    :func:`exact_dedup` if desired).
    """
    sig = _minhash_signature(
        df, id_col, text_col, num_hashes, shingle_n, hash_fn
    )
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh{s}") for s in range(num_hashes)]).alias(
            sig_col
        ),
    )


def _band_hash_cols(cols, hash_fn: str):
    """THE band-key hash — the single definition every banding site
    uses (:func:`minhash_bands`, :func:`with_minhash_band_keys`,
    :func:`_band_keys_from_sig`): a drifting copy would silently
    bucket stored signatures differently from fresh computations and
    LSH would find zero candidates."""
    if hash_fn == "xxhash64":
        return F.xxhash64(*cols).cast("string")
    return F.md5(F.concat_ws(",", *cols))


def _band_keys_from_sig(sig, num_hashes: int, bands: int, hash_fn: str):
    """Band keys derived from a signature ARRAY — byte-identical to
    :func:`minhash_bands`'s keys (same :func:`_band_hash_cols` over
    the band's minhashes in seed order), so stored signatures and
    freshly-computed ones land in the same buckets."""
    r = num_hashes // bands
    return [
        _band_hash_cols(
            [F.element_at(sig, b * r + i + 1) for i in range(r)], hash_fn
        )
        for b in range(bands)
    ]


def fuzzy_filter_against(
    new_docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
    index_sig_col: str = "minhash",
) -> DataFrame:
    """Incremental fuzzy dedup against a signature index at rest: drop
    incoming documents whose MinHash signature agrees with ANY index
    signature on >= ``threshold`` of its components — the
    new-crawl-vs-existing-corpus step (the :func:`dedup_against` exact
    filter's fuzzy sibling, and the MinHash analogue of
    :func:`hamming_filter`'s signature-index shape).

    Verification is SIGNATURE AGREEMENT (``E[agreement] = jaccard``,
    sigma ``sqrt(j(1-j)/k)`` — ~12% at k=16), not the exact
    shingle-set Jaccard :func:`fuzzy_dedup` / ``fuzzy_decontaminate``
    verify with: an index at rest stores k longs per document, not its
    shingle sets, and that trade IS what makes screening 100 TB of
    history against each day's crawl affordable.  Raise ``num_hashes``
    to tighten the estimate (the index grows linearly).

    Shape: both sides explode to slim ``(band, band_hash, id, sig)``
    relations (the signature is k longs, no text travels) and candidate
    generation is one equi-join on the band key — never new x index.
    The verification is one ``zip_with`` equality count per COLLIDING
    pair.  At real scale, persist the index pre-exploded and bucketed
    on ``(band, band_hash)`` (the ``bucket_by`` destination) so daily
    screens pay no index-side shuffle at all.

    Contract: new-side ids must be non-NULL (the kept rows are
    addressed by id — raises loudly); empty/NULL-text documents have
    no signature, match nothing, and are KEPT; index signatures must
    be non-NULL and carry exactly ``num_hashes`` components (both
    validated at execution — an index built with different parameters
    would silently miss, and a mis-populated NULL-signature index
    would silently filter nothing).  The NULL check is per-ROW, so an
    index with even one NULL signature — including the all-NULL
    degenerate of a botched backfill — fails the job at execution
    rather than passing every incoming document; an EMPTY index (zero
    rows) is by contrast a valid "nothing seen yet" state that keeps
    everything.
    Returns ``new_docs`` rows whose document is NOT a near-duplicate
    of the index.
    """
    if not 0 < threshold <= 1:
        raise ValueError(
            f"fuzzy_filter_against: threshold must be in (0, 1], got "
            f"{threshold}"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"fuzzy_filter_against: bands ({bands}) must divide "
            f"num_hashes ({num_hashes})"
        )
    from .sampling import _fresh_name

    taken = set(new_docs.columns) | set(index.columns)
    nid, nsig = _fresh_name("__ff_id", taken), _fresh_name("__ff_sig", taken)
    isig = _fresh_name("__ff_isig", taken)
    bcol, hcol = _fresh_name("__ff_b", taken), _fresh_name("__ff_h", taken)

    guarded = new_docs.filter(
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    "fuzzy_filter_against: NULL id on the incoming side — "
                    "kept rows are addressed by id; assign ids first"
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    new_sigs = minhash_signatures(
        guarded, id_col, text_col, num_hashes, shingle_n, hash_fn, nsig
    ).withColumnRenamed(id_col, nid)
    sig_ok = (
        F.when(
            F.col(index_sig_col).isNull(),
            F.raise_error(
                F.lit(
                    "fuzzy_filter_against: NULL signature in the index — "
                    "a mis-populated index would silently filter "
                    "nothing; rebuild it with minhash_signatures (which "
                    "emits no row for empty docs, never a NULL)"
                )
            ).cast("array<long>"),
        )
        .when(
            F.size(F.col(index_sig_col)) == num_hashes,
            F.col(index_sig_col),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "fuzzy_filter_against: index signature has "
                    ),
                    F.size(F.col(index_sig_col)).cast("string"),
                    F.lit(f" components, expected num_hashes={num_hashes}"),
                )
            ).cast("array<long>")
        )
    )
    idx = index.select(sig_ok.alias(isig))

    def _explode_bands(df_, sig_name):
        return df_.select(
            "*",
            F.posexplode(
                F.array(
                    *_band_keys_from_sig(
                        F.col(sig_name), num_hashes, bands, hash_fn
                    )
                )
            ).alias(bcol, hcol),
        )

    nb = _explode_bands(new_sigs, nsig)
    ib = _explode_bands(idx, isig)
    agree = F.size(
        F.filter(
            F.zip_with(F.col(nsig), F.col(isig), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(float(num_hashes))
    dropped = (
        nb.join(ib, [bcol, hcol])
        .where(agree >= F.lit(float(threshold)))
        .select(F.col(nid))
        .distinct()
    )
    # join from the GUARDED frame: the NULL-id raise must fire on every
    # output row, and a NULL id would otherwise slip through the anti-
    # join silently (NULL equals nothing)
    return guarded.join(
        dropped, guarded[id_col] == dropped[nid], "left_anti"
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
    dup_check_col: str | None = None,
) -> DataFrame:
    """(id, band, band_hash) — LSH banding of the MinHash signature.

    Two documents land in the same ``(band, band_hash)`` bucket iff one
    of their signature bands agrees entirely; with r rows per band the
    bucket-collision probability is the classic ``1-(1-j^r)^b`` curve.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"minhash_bands: bands ({bands}) must divide num_hashes "
            f"({num_hashes}) — a remainder would silently drop "
            f"{num_hashes % bands} hashes and change the sensitivity curve"
        )
    rows_per_band = num_hashes // bands
    sig = _minhash_signature(
        df, id_col, text_col, num_hashes, shingle_n, hash_fn,
        dup_check_col=dup_check_col,
    )
    # band hash = md5 of the band's minhashes in seed order; derived from
    # the wide signature row with no extra shuffle (posexplode is a map)
    band_hashes = [
        _band_hash_cols(
            [
                F.col(f"mh{s}")
                for s in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
            hash_fn,
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_hashes)).alias("band", "band_hash"),
    )


def with_minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    keys_col: str = "band_keys",
    shingles_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """ZERO-SHUFFLE row-local twin of :func:`minhash_bands`: adds
    ``keys_col`` — an ``array<string>`` of ``"band:band_hash"`` keys
    computed entirely with per-row higher-order functions (no
    explode/groupBy) — and, if ``shingles_col`` is given, the distinct
    non-empty shingle array used.  ``explode(keys_col)`` reproduces the
    batch band table bit-for-bit (pinned by test), so the two are
    interchangeable; being stateless, THIS one also runs unchanged on
    a STREAMING frame (the live-crawl decontamination path,
    :func:`~.decontam.fuzzy_decontaminate_rowwise`).

    Cost per row: k/4 md5 digests (or k native xxhash64 calls) per
    shingle — same hashing volume as the batch aggregation — plus k
    interpreted slice-and-min folds over the staged digest arrays.  The batch ``groupBy`` form
    stays preferable for corpus-scale batch jobs (whole-stage codegen,
    map-side combine); this form exists for streams and for pipelines
    that must avoid a shuffle.  Empty/NULL docs get an EMPTY key array
    (the batch form emits no row for them — same "no signature"
    contract; '' sentinel shingles are dropped for the same
    pile-up-bucket reason)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"with_minhash_band_keys: bands ({bands}) must divide "
            f"num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    from .sampling import _fresh_name

    taken = list(df.columns) + [keys_col] + ([shingles_col] if shingles_col else [])
    sh_name = shingles_col or _fresh_name("__mh_sh", taken)
    hs_name = _fresh_name("__mh_hs", taken + [sh_name])
    if keys_col in df.columns or (shingles_col and shingles_col in df.columns):
        raise ValueError(
            "with_minhash_band_keys: output column already exists on "
            "the input — pass keys_col/shingles_col to rename"
        )
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # stage the token array, the shingle array, and ONE hash/digest
    # array per seed family (see _minhash_signature's family note: each
    # seed must hash the shingle independently — a shared base hash
    # made every seed's argmin identical); staging keeps the regex
    # split computed once per row (word_ngrams_col contract) and each
    # per-shingle digest computed once, not once per slice (the
    # bpe_pair_counts lesson).
    # NOTE: transform lambdas must take exactly ONE parameter —
    # F.transform dispatches on arity, and a two-arg lambda (e.g. the
    # `seed=seed` default-arg idiom) would silently receive the ARRAY
    # INDEX as its second argument instead of the captured seed
    tk_name = _fresh_name("__mh_tk", taken + [sh_name, hs_name])
    sh = F.filter(
        word_shingles_col(tk_name, shingle_n),
        lambda s: s != F.lit(""),
    )
    staged = (
        df.withColumn(tk_name, normalized_tokens(F.col(text_col)))
        .withColumn(sh_name, sh)
        .drop(tk_name)
    )
    dg_names: list[str] = []
    if hash_fn == "xxhash64":
        def _seeded(seed: int):
            return lambda s: F.pmod(
                F.xxhash64(F.lit(seed), s), F.lit(1 << 32)
            )

        mins = [
            F.array_min(F.transform(F.col(sh_name), _seeded(seed)))
            for seed in range(num_hashes)
        ]
    else:
        n_digests = -(-num_hashes // _SEEDS_PER_DIGEST)
        for d in range(n_digests):
            name = _fresh_name(f"{hs_name}_{d}", staged.columns)
            dg_names.append(name)

            def _dg(d_: int):
                return lambda s: _md5_digest_col(s, d_)

            staged = staged.withColumn(
                name, F.transform(F.col(sh_name), _dg(d))
            )

        def _sl(j: int):
            return lambda dg: _slice32(dg, j)

        mins = [
            F.array_min(
                F.transform(
                    F.col(dg_names[seed // _SEEDS_PER_DIGEST]),
                    _sl(seed % _SEEDS_PER_DIGEST),
                )
            )
            for seed in range(num_hashes)
        ]

    def _band_key(b: int):
        cols = mins[b * rows_per_band : (b + 1) * rows_per_band]
        return F.concat(
            F.lit(f"{b}:"), _band_hash_cols(cols, hash_fn)
        )

    keys = F.when(
        F.size(F.col(sh_name)) > 0,
        F.array(*[_band_key(b) for b in range(bands)]),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    out = staged.withColumn(keys_col, keys).drop(*dg_names)
    if shingles_col is None:
        out = out.drop(sh_name)
    return out


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (id_a < id_b) from LSH.

    The only join is a self-equi-join on ``(band, band_hash)`` — at
    100 TB this is the operation that makes near-dup detection feasible:
    bucket sizes are tiny for non-duplicate data, and the join key is
    uniform md5 so there is no planner-visible skew.
    """
    banded = minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_n, hash_fn)
    # Pairs via per-bucket combination instead of a self-join: a
    # self-join recomputes the whole signature lineage for each side
    # (no ReusedExchange — the sides differ by alias), doubling the
    # md5-over-shingles work. One groupBy collects each bucket's
    # (tiny, by LSH design) sorted member list and emits the i<j
    # combinations with array expressions — half the compute, one
    # fewer shuffle. A degenerate bucket (everything identical) is
    # quadratic either way; LSH bucket sizes are the feasibility
    # contract.
    # lambda-free pair expansion (nested transform() lambdas cost
    # seconds of codegen per fresh session): position-explode the
    # member list, then explode the tail slice after each position —
    # exactly the i<j combinations
    return (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("i", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b"),
        )
        .distinct()
    )


def fuzzy_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
    keep_by: Optional[str] = None,
    descending: bool = True,
) -> DataFrame:
    """End-to-end fuzzy document dedup: MinHash-LSH candidate pairs →
    connected components of the similarity graph → keep one
    representative per duplicate cluster (minimum id by default, or the
    best-``keep_by`` member — e.g. a quality score — the real curation
    policy when duplicates differ in cleanliness; see
    :func:`~.cluster.cluster_dedup`).

    This is the standard large-corpus training-data dedup recipe (the
    GPT-3 / Gopher-style MinHash pipeline): every step is banded or
    per-component — nothing quadratic in the corpus. Rows not in any
    near-dup pair pass through untouched.
    """
    from .cluster import cluster_dedup

    pairs = minhash_candidate_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        hash_fn=hash_fn,
    )
    return cluster_dedup(
        df, pairs, id_col=id_col, keep_by=keep_by, descending=descending
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 1,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    Relational formulation: explode shingles, self-join on shingle,
    count intersections, then ``|A∩B| / (|A|+|B|-|A∩B|)``. The shingle
    join can blow up quadratically inside hot shingles — at scale run
    :func:`minhash_candidate_pairs` first and use this only to verify
    candidates (join this against the candidate pairs).
    """
    from .sampling import _fresh_name

    tk = _fresh_name("__wtoks", df.columns)
    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col), normalized_tokens(F.col(text_col)).alias(tk))
        .select(
            F.col(id_col),
            F.explode(word_shingles_col(tk, shingle_n)).alias("s"),
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    inter = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _check_width(name: str, arg: str, bits: int, wide: bool) -> None:
    lo, hi = (61, 120) if wide else (1, 60)
    if not lo <= bits <= hi:
        use = f" (use {name.removesuffix('_wide')} for <= 60)" if wide else ""
        raise ValueError(f"{name}: {arg} must be in {lo}..{hi}{use}, got {bits}")


def _check_radius(name: str, sig_bits: int, max_hamming: int, wide: bool) -> None:
    _check_width(name, "sig_bits", sig_bits, wide)
    if not 0 <= max_hamming < sig_bits:
        raise ValueError(
            f"{name}: max_hamming must be in 0..{sig_bits - 1}, got {max_hamming}"
        )


def _sig_elems(sig: Column, sig_bits: int, wide: bool) -> list[Column]:
    """A signature as its 60-bit elements: the BIGINT itself, or each
    element of an ``array<long>``."""
    if not wide:
        return [sig]
    return [F.element_at(sig, e + 1) for e in range(-(-sig_bits // 60))]


def _sig_check(sig: Column, sig_bits: int, wide: bool) -> tuple[Column, str]:
    """The predicate a signature must satisfy, and what a failing one is.

    Element ``e`` must lie in ``[0, 2^width_e)`` (60 bits, the last one
    ``sig_bits - 60e``): a bit outside the declared width sits outside
    every band and silently breaks the completeness guarantee.  An
    array must also have exactly its element count, tested FIRST so
    ``element_at`` never reads past a short array.
    """
    elems = _sig_elems(sig, sig_bits, wide)
    conds = [F.size(sig) == len(elems)] if wide else []
    conds += [
        (el >= 0) & (el < F.lit(1 << min(60, sig_bits - 60 * e)))
        for e, el in enumerate(elems)
    ]
    shape = (
        f"is not {len(elems)} elements of [0, 2^60) covering {sig_bits} bits"
        if wide else f"outside [0, 2^{sig_bits})"
    )
    return reduce(Column.__and__, conds), shape


def _hamming(a: Column, b: Column, sig_bits: int, wide: bool) -> Column:
    """Exact Hamming distance: the element-wise ``bit_count(a ^ b)`` sum."""
    pairs = zip(_sig_elems(a, sig_bits, wide), _sig_elems(b, sig_bits, wide))
    return reduce(Column.__add__, [F.bit_count(x.bitwiseXOR(y)) for x, y in pairs])


def _band_values(elems: list[Column], sig_bits: int, bands: int) -> list[Column]:
    """Balanced contiguous bands over the concatenated ``sig_bits``: the
    first ``sig_bits % bands`` bands get one extra bit, and a band that
    straddles an element boundary assembles its value from both."""
    base_w, extra = divmod(sig_bits, bands)
    vals, off = [], 0
    for b in range(bands):
        end = off + base_w + (b < extra)
        parts, lo = [], off
        while lo < end:
            e = lo // 60
            hi = min(end, 60 * (e + 1))
            part = F.shiftright(elems[e], lo - 60 * e).bitwiseAND(
                F.lit((1 << (hi - lo)) - 1)
            )
            parts.append(F.shiftleft(part, lo - off) if lo > off else part)
            lo = hi
        vals.append(reduce(Column.bitwiseOR, parts))
        off = end
    return vals


def _simhash(df, id_col, text_col, bits, hash_fn, wide) -> DataFrame:
    """SimHash (Charikar 2002) of each document in ``n = ceil(bits/60)``
    60-bit elements: bit ``g`` is 1 iff more of the document's token
    hashes have bit ``g`` set than unset.  One BIGINT when ``wide`` is
    False, else an ``array<long>``.

    Each token is hashed ONCE into ``n`` independent 60-bit slices (60
    bits keep every element a non-negative BIGINT, and ``1 << 63``
    would overflow the literal under ANSI): md5 hex chars ``1-15`` and
    ``16-30`` (disjoint digest bits), or ``pmod(xxhash64(tok), 2^60)``
    and ``pmod(xxhash64(1, tok), 2^60)`` on the native fast path.  The
    md5 digest is its own projection so it runs once per token however
    many slices read it.

    Pure relational form: one explode, then one aggregation of
    ``sum((h >> b) & 1)`` per bit plus one shared ``count(*)``, which is
    integer-identical to the textbook ``sum(bit ? +1 : -1) > 0``
    (``2*set > n`` iff ``set - unset > 0``) without a branch in the
    per-token-per-bit loop.  The expressions are SQL text parsed once
    each: Column compositions cost ~1 s of plan construction in Python.

    NULL-id documents group under a working key ``'\\x00' + md5(text)``
    (it cannot collide with a cast id unless that id starts with
    ``'\\x00'``): a NULL group key would merge every NULL-id document
    into one aggregate.  Identical NULL-id texts share a key, which is
    exact.  Explode emits no rows for NULL, empty or whitespace-only
    text; the final left join keeps those rows with an all-zero
    signature (no tokens, so every bit majority is 0).
    """
    from .sampling import _fresh_name
    from .sketch import _check_hash_fn

    _check_width("simhash_wide" if wide else "simhash", "bits", bits, wide)
    _check_hash_fn(hash_fn)
    n_elem = -(-bits // 60)
    src = ensure_parallelism(df)
    wk = _fresh_name("__sh_key", src.columns)
    keyed = src.withColumn(
        wk,
        F.when(
            F.col(id_col).isNull(),
            F.concat(
                F.lit("\x00"),
                F.md5(F.coalesce(F.col(text_col), F.lit("\x00NULL"))),
            ),
        ).otherwise(F.col(id_col).cast("string")),
    )
    toks = keyed.select(
        F.col(wk), F.explode(normalized_tokens(F.col(text_col))).alias("tok")
    )
    if hash_fn == "md5":
        toks = toks.withColumn("__d", F.md5("tok"))
        slices = [
            F.conv(F.substring("__d", 1 + 15 * e, 15), 16, 10).cast("long")
            for e in range(n_elem)
        ]
    else:
        slices = [
            F.pmod(F.xxhash64(*([F.lit(e)] if e else []), F.col("tok")),
                   F.lit(1 << 60))
            for e in range(n_elem)
        ]
    hashed = toks.select(
        F.col(wk), *[h.alias(f"h{e}") for e, h in enumerate(slices)]
    )
    bit_sums = [
        F.expr(f"sum(shiftright(h{g // 60}, {g % 60}) & 1) AS b{g}")
        for g in range(bits)
    ]
    agg = hashed.groupBy(wk).agg(F.expr("count(*) AS __n"), *bit_sums)
    elems = [
        " + ".join(
            f"IF(b{g} * 2 > __n, CAST({1 << (g % 60)} AS BIGINT), "
            "CAST(0 AS BIGINT))"
            for g in range(60 * e, min(60 * (e + 1), bits))
        )
        for e in range(n_elem)
    ]
    fp = f"array({', '.join(elems)})" if wide else elems[0]
    fingerprints = agg.select(F.col(wk), F.expr(f"({fp}) AS simhash"))
    zero = F.lit(0).cast("bigint")
    zeros = F.array(*[zero] * n_elem) if wide else zero
    out = keyed.select(id_col, wk).join(fingerprints, wk, "left")
    return out.select(F.col(id_col), F.coalesce("simhash", zeros).alias("simhash"))


def _hamming_pairs(df, sig_col, id_col, max_hamming, bands, sig_bits,
                   max_bucket_size, wide) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over a SimHash-layout
    signature (one BIGINT, or ``array<long>`` when ``wide``): the banded
    table layout of Manku et al. 2007 §3.

    **Completeness by pigeonhole**: the ``sig_bits`` bits split into
    ``bands`` contiguous balanced blocks (:func:`_band_values`).  Two
    signatures within Hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` blocks, so with ``bands >= max_hamming + 1`` (the
    default) they agree exactly on at least one: the band equi-join
    generates every true pair, and the exact XOR-popcount verification
    makes precision 1.  There is no recall approximation; fewer bands
    are rejected rather than silently lossy.  The one exception is
    ``max_bucket_size``: buckets above it (e.g. an all-zero pileup) are
    dropped before pairing; None keeps the strict guarantee.

    **Candidate volume**: a random pair agrees on a given band with
    probability ~``2^-(sig_bits/bands)``, so random candidates are
    ``Theta(n^2 * bands * 2^-(sig_bits/bands))``, the arithmetic of
    :func:`solve_lsh_params`.  Bands cannot drop below
    ``max_hamming + 1``, so the knob that scales is the signature: 60
    bits at bands=4 gives 15-bit bands, and random collisions
    ~n²·4/2¹⁵ cross ``candidates ≈ n`` near n ≈ 8k; 120 bits at bands=4
    gives 30-bit bands and stays ~n up to n ≈ 10^9.  Or screen against
    an at-rest index with :func:`hamming_filter`, where only the new
    side pays pair volume.

    **Rules**: NULL ids raise (a pair needs two addressable rows), NULL
    signatures drop (no fingerprint, no neighbors), and a signature
    outside :func:`_sig_check` raises at execution.  Output ``id_a,
    id_b, hamming int`` with ``id_a < id_b`` and ``hamming <=
    max_hamming``, once per pair.

    The exploded ``(band, value, id, sig)`` relation is slim and is
    materialized after the bucket cap: the self-join's sides are two
    consumers and write-path AQE reuses no exchange, so the upstream
    signature computation would otherwise run twice.
    """
    name = "hamming_pairs_wide" if wide else "hamming_pairs"
    _check_radius(name, sig_bits, max_hamming, wide)
    bands = max_hamming + 1 if bands is None else bands
    if not max_hamming < bands <= sig_bits:
        raise ValueError(
            f"{name}: bands must be in {max_hamming + 1}..{sig_bits} "
            f"(>= max_hamming + 1 for the pigeonhole completeness "
            f"guarantee), got {bands}"
        )
    sig = F.col(sig_col)
    ok, shape = _sig_check(sig, sig_bits, wide)
    src = df.where(sig.isNotNull())
    for cond, msg in (
        (F.col(id_col).isNotNull(),
         "NULL id — a pair needs two addressable rows; assign unique ids first"),
        (ok, f"signature {shape} — wrong sig_bits silently breaks banding "
             "completeness"),
    ):
        src = src.where(F.assert_true(cond, F.lit(f"{name}: {msg}")).isNull())
    vals = _band_values(_sig_elems(sig, sig_bits, wide), sig_bits, bands)
    slim = src.select(
        F.col(id_col).alias("__id"),
        sig.alias("__sig"),
        F.posexplode(F.array(*vals)).alias("__band", "__bval"),
    )
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        bucket = F.count("*").over(Window.partitionBy("__band", "__bval"))
        slim = slim.withColumn("__bn", bucket).where(
            F.col("__bn") <= max_bucket_size
        ).drop("__bn")
    from .materialize import materialize

    slim = materialize(slim)
    a, b = (
        slim.select("__band", "__bval", F.col("__id").alias(f"id_{s}"),
                    F.col("__sig").alias(f"__s{s}"))
        for s in "ab"
    )
    ham = _hamming(F.col("__sa"), F.col("__sb"), sig_bits, wide)
    # merge hints: auto-broadcast could not size the post-explode side
    # anyway (see embedding_near_duplicates_lsh)
    return (
        a.hint("merge")
        .join(b.hint("merge"), ["__band", "__bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _hamming_filter(df, index, sig_col, index_sig_col, max_hamming, sig_bits,
                    wide) -> DataFrame:
    """Drop rows whose signature lies within ``max_hamming`` of ANY
    signature in ``index``: the ingestion-filter twin of
    :func:`_hamming_pairs`.

    Stateless, so it runs unchanged on a streaming frame: the drop is
    one stream-static broadcast anti-join whose condition is the exact
    verification itself.  An XOR-popcount per element per (row, index
    entry) is cheaper than any LSH candidacy pre-check, so unlike
    :func:`~.decontam.fuzzy_decontaminate_rowwise` the nested-loop join
    needs no banding.  Each row pays ``n_index`` of them (~ns each):
    fine for rate-limited streams and indexes into the millions; batch
    corpus x corpus dedup should use :func:`_hamming_pairs`.

    NULL input signatures are KEPT (no fingerprint, no neighbors), NULL
    index rows are ignored, and a signature outside :func:`_sig_check`
    raises on either side.  The check is folded into the join and filter
    predicates (see weighted_sample for why a separate assert filter is
    reorderable).
    """
    name = "hamming_filter_wide" if wide else "hamming_filter"
    _check_radius(name, sig_bits, max_hamming, wide)
    index_sig_col = index_sig_col if index_sig_col is not None else sig_col

    def _checked(col: Column, side: str) -> Column:
        ok, shape = _sig_check(col, sig_bits, wide)
        return F.when(col.isNull() | ok, F.lit(True)).otherwise(
            F.raise_error(F.lit(f"{name}: {side} signature {shape}"))
            .cast("boolean")
        )

    from .sampling import _fresh_name

    isig = _fresh_name("__hf_sig", df.columns)
    idx = F.broadcast(
        index.filter(_checked(F.col(index_sig_col), "index"))
        .where(F.col(index_sig_col).isNotNull())
        .select(F.col(index_sig_col).alias(isig))
    )
    src = df.filter(_checked(F.col(sig_col), "input"))
    ham = _hamming(F.col(sig_col), F.col(isig), sig_bits, wide)
    return src.join(idx, on=ham <= F.lit(max_hamming), how="left_anti")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash of up to 60 bits per document as one BIGINT ``simhash``
    column (see :func:`_simhash`).  Near-duplicate lookup is then
    ``bit_count(a ^ b)`` on one integer: pair with :func:`hamming_pairs`
    or screen with :func:`hamming_filter`.
    """
    return _simhash(df, id_col, text_col, bits, hash_fn, wide=False)


def simhash_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 120,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash of 61..120 bits as ``array<long>``, 60 bits per element
    (see :func:`_simhash`); element 1 equals :func:`simhash` at 60 bits.
    The scale answer for banded lookup: doubling the signature squares
    the per-band miss rate at the same band count.  Pair with
    :func:`hamming_pairs_wide`; for <= 60 bits use :func:`simhash`
    (one BIGINT, cheaper joins).
    """
    return _simhash(df, id_col, text_col, bits, hash_fn, wide=True)


def hamming_pairs(
    df: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: Optional[int] = None,
    sig_bits: int = 60,
    max_bucket_size: Optional[int] = 10_000,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits over a BIGINT signature of
    ``sig_bits`` <= 60 bits: :func:`simhash` fingerprints, or any other
    such integer (e.g. :func:`~.multimodal.perceptual_hash`).  Complete
    by pigeonhole at ``bands >= max_hamming + 1``; the contract, the
    candidate-volume arithmetic and the NULL and range rules are on
    :func:`_hamming_pairs`.  Output ``id_a, id_b, hamming int``.
    """
    return _hamming_pairs(df, sig_col, id_col, max_hamming, bands, sig_bits,
                          max_bucket_size, wide=False)


def hamming_pairs_wide(
    df: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: Optional[int] = None,
    sig_bits: int = 120,
    max_bucket_size: Optional[int] = 10_000,
) -> DataFrame:
    """:func:`hamming_pairs` over :func:`simhash_wide`'s ``array<long>``
    signatures of 61..120 bits; a band straddling the element boundary
    takes its value from both elements (see :func:`_hamming_pairs`).
    """
    return _hamming_pairs(df, sig_col, id_col, max_hamming, bands, sig_bits,
                          max_bucket_size, wide=True)


def hamming_filter(
    df: DataFrame,
    index: DataFrame,
    sig_col: str = "simhash",
    index_sig_col: Optional[str] = None,
    max_hamming: int = 3,
    sig_bits: int = 60,
) -> DataFrame:
    """Drop rows within ``max_hamming`` of any BIGINT signature in
    ``index`` (``index_sig_col``, default ``sig_col``): the stateless,
    stream-safe ingestion screen for :func:`simhash` and
    :func:`~.multimodal.perceptual_hash` fingerprints of ``sig_bits`` <=
    60 bits (see :func:`_hamming_filter`).
    """
    return _hamming_filter(df, index, sig_col, index_sig_col, max_hamming,
                           sig_bits, wide=False)


def hamming_filter_wide(
    df: DataFrame,
    index: DataFrame,
    sig_col: str = "simhash",
    index_sig_col: Optional[str] = None,
    max_hamming: int = 3,
    sig_bits: int = 120,
) -> DataFrame:
    """:func:`hamming_filter` over :func:`simhash_wide`'s ``array<long>``
    signatures of 61..120 bits (see :func:`_hamming_filter`).
    """
    return _hamming_filter(df, index, sig_col, index_sig_col, max_hamming,
                           sig_bits, wide=True)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Pairs of embeddings with cosine similarity above ``threshold``.

    Brute-force all-pairs (self-join); correct but quadratic — at scale,
    bucket by :func:`aqueducts_spark.operators.similarity.hyperplane_lsh`
    first and run this within buckets. Dot/norm are ``aggregate`` +
    ``zip_with`` — JVM-side, no Python.
    """
    from .similarity import _NORM_EPS, dot, l2_norm

    # per-id norms are computed ONCE on each n-row side instead of per
    # pair (n^2 evaluations of an interpreted higher-order aggregate);
    # the pair expression dot/(na*nb) is IEEE-identical to the inline
    # cosine_similarity form, so oracle hash parity is unaffected
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            # epsilon-guarded like cosine_similarity: an unguarded
            # divide crashes with DIVIDE_BY_ZERO on any zero-norm
            # vector under Spark 4's default ANSI mode
            dot(F.col("va"), F.col("vb"))
            / F.greatest(F.col("na") * F.col("nb"), F.lit(_NORM_EPS)),
        )
        .filter(F.col("cosine") > threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: Optional[int] = None,
    threshold: float = 0.95,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    max_cluster_size: Optional[int] = 100_000,
    quantize: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication through embedding clusters.

    1. spherical k-means centroids from a bounded hash-ranked sample
       (:func:`~.similarity.train_ivf_centroids` — only ``sample_size``
       vectors reach the driver);
    2. assign every vector to its nearest centroid (Arrow-batched
       matmul, no shuffle);
    3. WITHIN each cluster, connect pairs with cosine > ``threshold``
       (one shuffle keyed on centroid id — never a global all-pairs);
    4. resolve duplicate groups with connected components and keep, per
       group, the member with the LOWEST cosine to its centroid (the
       paper's diversity-preserving choice; ties break to min id).

    The per-cluster pair join is quadratic in CLUSTER size — the two
    scale guards:

    * ``n_clusters`` defaults to ~√N (the paper's setting), derived
      from one count of the non-null vectors, so the expected cluster
      size grows as √N instead of N/16; pass an explicit value to
      skip the count.  The derived value is capped at ``sample_size``
      (a k-means fit cannot have more centroids than training points),
      so past ``sample_size²`` vectors raise ``sample_size`` along
      with the corpus — the clamp warns when it engages.
    * ``max_cluster_size`` mirrors the LSH bucket cap
      (:func:`embedding_near_duplicates_lsh`): clusters bigger than
      the cap (embedding-space pileups, e.g. zero-vector collapse)
      contribute NO pairs — their members are all kept.  Recall
      trade-off only; precision stays exact.  ``None`` disables.
    * ``quantize=True`` (VERDICT r5 next-steps #5) runs the
      within-cluster pair join on symmetric int8 vectors
      (``array<tinyint>`` — the :func:`~.embedding.quantize_embeddings`
      scheme inlined), shrinking the D-dim shuffle payload ~8x vs
      ``array<double>``.  Per-vector symmetric scales CANCEL from the
      cosine (the :func:`~.similarity.quantized_topk` identity), so
      the pairwise score is the int dot over int norms with
      per-component error <= scale/2 — ``threshold`` then applies to
      the QUANTIZED cosine (documented semantics change; agreement
      with the float pairing is pinned by test, like quantized_topk's
      recall bar).  The keep-choice ranking (lowest
      cosine-to-centroid) stays float either way — it is computed
      BEFORE the join and ships as one scalar per row.

    Rows with NULL embeddings pass through untouched (no semantics to
    compare).  Deterministic for a fixed seed and input.
    """
    from pyspark.sql.window import Window

    from .cluster import connected_components
    from .sampling import _fresh_name
    from .similarity import _NORM_EPS, dot, ivf_assign, l2_norm, train_ivf_centroids

    if not 0.0 < threshold < 1.0:
        raise ValueError(
            f"semantic_dedup: threshold must be in (0, 1), got {threshold}"
        )
    if n_clusters is None:
        n_vec = df.where(F.col(vec_col).isNotNull()).count()
        derived = int(n_vec**0.5) + 1
        # the centroid count cannot exceed the k-means training sample:
        # past sample_size**2 vectors the sqrt(N) scaling stops unless
        # sample_size is raised with it — make that clamp loud, because
        # a silently linear cluster size combined with max_cluster_size
        # would quietly stop deduplicating anything
        n_clusters = max(1, min(derived, sample_size))
        if derived > sample_size:
            import warnings

            warnings.warn(
                f"semantic_dedup: derived n_clusters sqrt(N)={derived} is "
                f"clamped to sample_size={sample_size}; expected cluster "
                f"size grows linearly beyond this corpus size — raise "
                f"sample_size (and iters budget) to keep the sqrt(N) "
                f"scaling",
                stacklevel=2,
            )
    if n_clusters < 1:
        raise ValueError(
            f"semantic_dedup: n_clusters must be >= 1, got {n_clusters}"
        )
    centroids = train_ivf_centroids(
        df, vec_col, n_centroids=n_clusters, sample_size=sample_size,
        iters=iters, seed=seed,
    )
    spark = df.sparkSession
    # helper names are collision-guarded against the input frame — a
    # crawl frame already carrying e.g. __centroid must not fail the
    # join analysis or get silently clobbered
    cid = _fresh_name("__cid", df.columns)
    cent = _fresh_name("__centroid", df.columns)
    sid, vcol, ccos = "__sid", "__v", "__ccos"
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        f"{cid} int, {cent} array<double>",
    )
    assigned = ivf_assign(df, centroids, vec_col, out_col=cid).join(
        F.broadcast(cdf), cid
    )
    # one projection carries exactly what the pair stage needs: (id,
    # cluster, vector, norm, similarity-to-centroid).  The vector (and
    # its norm) must ride into the pair join — the pairwise cosine is
    # computed from it — so the per-cluster shuffle carries D values
    # per candidate row on BOTH sides; quantize=True shrinks those to
    # int8 (~8x), and the cluster-size cap below bounds the row count
    if quantize:
        qs = _fresh_name("__qs", df.columns)
        src = assigned.withColumn(
            qs,
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
            )
            / F.lit(127.0),
        )
        # quantize_embeddings' scheme inline (staged scale column so the
        # max-aggregate is not re-evaluated per component): round-half-up
        # clamp to [-127, 127]; all-zero vectors (scale 0) -> zeros.
        # NULL components stay NULL (least/greatest SKIP null args, so a
        # bare clamp would turn a missing component into +127 — the
        # exact bug embedding.py's quantize_embeddings documents); the
        # NULL then propagates through dot/l2_norm below exactly like
        # the float path, so the row is kept, never spuriously dropped.
        payload = F.when(
            F.col(qs) > 0,
            F.transform(
                F.col(vec_col),
                lambda v: F.when(
                    v.isNotNull(),
                    F.greatest(
                        F.lit(-127),
                        F.least(
                            F.lit(127),
                            F.floor(
                                v.cast("double") / F.col(qs) + F.lit(0.5)
                            ).cast("int"),
                        ),
                    ),
                ).cast("tinyint"),
            ),
        ).otherwise(
            F.transform(
                F.col(vec_col),
                lambda v: F.when(v.isNotNull(), F.lit(0)).cast("tinyint"),
            )
        )
    else:
        src = assigned
        payload = F.col(vec_col)
    slim = src.select(
        F.col(id_col).alias(sid),
        F.col(cid),
        payload.alias(vcol),
        (
            dot(F.col(vec_col), F.col(cent))
            / F.greatest(l2_norm(F.col(vec_col)), F.lit(_NORM_EPS))
        ).alias(ccos),  # centroid rows are unit-norm already; ranking
        # stays on the FLOAT cosine-to-centroid in both modes
    ).withColumn(
        # staged on the (possibly quantized) payload column so the
        # quantize tree is evaluated once, not re-inlined by the norm
        "__n",
        l2_norm(F.col(vcol)),
    )
    if max_cluster_size is not None:
        # count window, not groupBy+semi-join: one slim shuffle on the
        # cluster id, already partitioned for the pair join below
        slim = (
            slim.withColumn(
                "__cn", F.count("*").over(Window.partitionBy(cid))
            )
            .where(F.col("__cn") <= max_cluster_size)
            .drop("__cn")
        )
    # materialize (r9): slim feeds BOTH pair-join sides and the final
    # keeper ranking — three consumers, and write-path AQE reuses no
    # exchange, so the centroid-assignment scoring upstream would run
    # three times.  The blocks carry the (possibly int8-quantized)
    # vectors; storing them once beats re-scoring the corpus thrice.
    from .materialize import materialize

    slim = materialize(slim)
    a = slim.select(
        F.col(sid).alias("id_a"), cid,
        F.col(vcol).alias("va"), F.col("__n").alias("na"),
    )
    b = slim.select(
        F.col(sid).alias("id_b"), F.col(cid).alias("__cid_b"),
        F.col(vcol).alias("vb"), F.col("__n").alias("nb"),
    )
    edges = (
        a.join(b, (F.col(cid) == F.col("__cid_b")) & (F.col("id_a") < F.col("id_b")))
        .where(
            dot(F.col("va"), F.col("vb"))
            / F.greatest(F.col("na") * F.col("nb"), F.lit(_NORM_EPS))
            > threshold
        )
        .select("id_a", "id_b")
    )
    comps = connected_components(edges)  # (node, component)
    ranked = (
        comps.join(
            slim.select(F.col(sid).alias("node"), ccos), "node"
        )
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col(ccos).asc(), F.col("node").asc()
                )
            ),
        )
    )
    drop_ids = ranked.where(F.col("__rk") > 1).select(F.col("node").alias(id_col))
    return df.join(drop_ids, [id_col], "left_anti")


def solve_lsh_params(
    n: int,
    threshold: float,
    target_miss: float = 1e-3,
    candidates_per_row: int = 128,
    max_tables: int = 512,
    min_bits: int = 8,
    max_bits: int = 30,
) -> tuple[int, int]:
    """Solve hyperplane-LSH ``(num_tables, bits_per_table)`` for a
    corpus of ``n`` vectors so that BOTH hold:

    * recall: a true pair at cosine ``threshold`` is missed with
      probability <= ``target_miss`` — per-table collision
      ``p1 = (1 - acos(threshold)/pi) ** bits``, miss ``(1-p1)^tables``;
    * cost: expected RANDOM-pair candidates stay LINEAR in n — in high
      dimension a random pair's angle concentrates at pi/2, so each
      table colliding with probability ~``2^-bits`` gives expected
      candidates ``n^2/2 * tables * 2^-bits``; bounding that by
      ``candidates_per_row * n`` yields
      ``bits >= log2(n * tables / (2 * candidates_per_row))``.

    The two couple (more bits -> lower p1 -> more tables), so iterate
    to the fixpoint (monotone in both directions — converges in a
    handful of steps).  THIS is why fixed parameters cannot scale: at
    fixed bits the random collision probability is a constant, so
    candidate volume is Theta(n^2) no matter how uniform the data —
    measured on the 10x scale probe as exactly the 100x pair blowup
    the formula predicts.

    Raises when no parameterization within ``max_tables`` satisfies
    both bounds — at low thresholds and large n vanilla hyperplane LSH
    is genuinely the wrong tool (the error says so and points at
    ``semantic_dedup`` / the IVF path) — surfacing the true cost
    beats silently exploding the candidate join.
    """
    if not 0 < threshold < 1:
        raise ValueError(
            f"solve_lsh_params: threshold must be in (0, 1), got {threshold}"
        )
    if n < 1:
        return 8, min_bits
    if not 0 < target_miss < 1:
        raise ValueError(
            f"solve_lsh_params: target_miss must be in (0, 1), got {target_miss}"
        )
    angle_frac = math.acos(threshold) / math.pi  # in (0, 0.5)
    bits = min_bits
    tables = 8
    for _ in range(32):
        p1 = (1.0 - angle_frac) ** bits
        new_tables = max(8, math.ceil(math.log(target_miss) / math.log(1.0 - p1)))
        new_bits = max(
            min_bits,
            math.ceil(
                math.log2(max(n * new_tables / (2.0 * candidates_per_row), 1.0))
            ),
        )
        if new_bits > max_bits:
            new_bits = max_bits
        if (new_tables, new_bits) == (tables, bits):
            break
        tables, bits = new_tables, new_bits
    if tables > max_tables:
        raise ValueError(
            f"solve_lsh_params: holding miss<={target_miss} at cosine "
            f"{threshold} over n={n} needs {tables} tables of {bits} bits "
            f"(> max_tables={max_tables}) — vanilla hyperplane LSH is the "
            "wrong tool at this threshold/scale; raise the threshold, "
            "accept a higher target_miss, or use semantic_dedup / the "
            "IVF top-k path"
        )
    return tables, bits


def embedding_near_duplicates_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    num_tables: int | str = 64,
    bits_per_table: int | str = 10,
    seed: int = 42,
    max_bucket_size: Optional[int] = 10_000,
    target_miss: float = 1e-3,
    candidates_per_row: int = 128,
    max_tables: int = 512,
    max_broadcast_candidates: int = 100_000,
) -> DataFrame:
    """Near-duplicate embedding pairs via banded hyperplane LSH — the
    100 TB scale path for :func:`embedding_near_duplicates` (whose
    all-pairs crossJoin is the small-data verification twin).

    Candidate generation mirrors MinHash banding: ``num_tables``
    independent sign-bit sketches of ``bits_per_table`` hyperplanes
    each; two vectors collide if ANY table assigns them the same bucket.
    For cosine similarity ``s``, a single table collides with
    ``p = (1 - acos(s)/pi) ** bits_per_table`` and the miss probability
    decays as ``(1 - p) ** num_tables`` — the defaults (64 tables x 10
    bits) hold miss below ~0.1% for s=0.8 and were swept empirically to
    zero misses on the gate data at every scale factor. Candidates are
    then verified with the EXACT cosine, so precision is 1 by
    construction; the only approximation is recall.

    **Fixed parameters do not scale** (measured, not argued: the 10x
    scale probe read a 100x candidate blowup at fixed 64x10): a random
    pair collides per table with constant probability ~``2^-bits``, so
    candidate volume is Theta(n^2) at ANY fixed bit width, uniform data
    included.  Pass ``num_tables="auto"``/``bits_per_table="auto"`` to
    solve both from the corpus count via :func:`solve_lsh_params` —
    bits grow ~log2(n) to pin expected random candidates at
    ``candidates_per_row * n`` (linear), tables grow to hold the miss
    bound ``target_miss`` at ``threshold``; one extra ``count()``
    action.  Auto raises rather than degrade when the threshold/scale
    combination genuinely exceeds ``max_tables`` — vanilla hyperplane
    LSH is the wrong tool there (use semantic_dedup / IVF).  The fixed
    defaults remain for parameter-stable gates and small corpora.

    Scale shape: the exploded (table, bucket, id) table is slim (no
    vectors travel), shuffled once on (table, bucket); candidate pairs
    are bucket-local equi-join output deduped with one distinct; exact
    verification joins the embedding column back by id — two shuffles
    of the candidate set, never corpus x corpus. Degenerate buckets
    (e.g. zero-vector pileups) are dropped by ``max_bucket_size``
    before pairing, bounding the worst bucket at a constant.

    Same contract as the brute-force twin: ``id_a < id_b``, exact
    ``cosine > threshold``, cosine rounded to 4 places.
    """
    from .similarity import _NORM_EPS, dot, l2_norm, random_hyperplanes

    # NULL vectors can never exceed a cosine threshold (the brute-force
    # twin propagates NULL cosine, which fails the filter) — drop them
    # up front so the bucketing matmul sees only real arrays
    df = df.where(F.col(vec_col).isNotNull())
    if num_tables == "auto" or bits_per_table == "auto":
        n = df.count()
        auto_t, auto_b = solve_lsh_params(
            n,
            threshold,
            target_miss=target_miss,
            candidates_per_row=candidates_per_row,
            max_tables=max_tables,
        )
        # one explicit + one auto: hold the explicit one, re-derive only
        # the other from the same bounds (tables from the miss bound at
        # the explicit bits; bits from the candidate bound at the
        # explicit tables)
        if num_tables == "auto" and bits_per_table != "auto":
            p1 = (1.0 - math.acos(threshold) / math.pi) ** int(bits_per_table)
            num_tables = max(
                8, math.ceil(math.log(target_miss) / math.log(1.0 - p1))
            )
            if num_tables > max_tables:
                raise ValueError(
                    f"embedding_near_duplicates_lsh: miss<={target_miss} at "
                    f"cosine {threshold} with bits_per_table={bits_per_table} "
                    f"needs {num_tables} tables (> max_tables={max_tables}) — "
                    "let bits_per_table='auto' solve both, or relax the bound"
                )
        elif bits_per_table == "auto" and num_tables != "auto":
            bits_per_table = max(
                8,
                math.ceil(
                    math.log2(
                        max(n * int(num_tables) / (2.0 * candidates_per_row), 1.0)
                    )
                ),
            )
        else:
            num_tables, bits_per_table = auto_t, auto_b
    num_tables = int(num_tables)
    bits_per_table = int(bits_per_table)

    # All num_tables*bits_per_table sign bits in ONE Arrow-batched
    # matmul per batch.  The built-in alternative — one
    # aggregate(zip_with(vec, 96-element literal array)) expression per
    # bit — explodes the codegen expression tree ~100x (measured 20s on
    # 2k vectors); this is the same engineering call as the IVF
    # centroid scorer (similarity.py _centroid_scorer).  Bucket ids are
    # BIGINTs (table_index * 2^bits + sign-bit integer): a fixed-width
    # shuffle key, vectorized end-to-end in numpy.
    # The plane matrix is derived ONCE PER TASK from (seed, dim of the
    # first vector seen) instead of a driver-side dim-probe job (r11 —
    # the first() action was the fixed-parameter path's only pre-job):
    # random_hyperplanes is deterministic in (dim, count, seed), so
    # every task builds the identical matrix, exactly what the driver
    # used to broadcast via the closure.  An empty corpus now simply
    # yields an empty result through the same plan instead of an
    # early-return frame.  A vector whose dim differs from the task's
    # first one raises: planes of another dim would bucket it against
    # a different sketch, silently.
    from pyspark.sql.functions import pandas_udf

    pow2 = (1 << np.arange(bits_per_table - 1, -1, -1)).astype(np.int64)
    offsets = (np.arange(num_tables, dtype=np.int64) << bits_per_table)
    n_planes = num_tables * bits_per_table
    planes: list = []  # [(dim, dim x (T*B) matrix)], set by the first batch

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        dims = vs.map(len)
        dim = planes[0][0] if planes else int(dims.iloc[0])
        other = dims[dims != dim]
        if len(other):
            raise ValueError(
                "embedding_near_duplicates_lsh: ragged embedding dims "
                f"{dim} and {int(other.iloc[0])} in {vec_col!r} — every "
                "vector must have the same dimension"
            )
        if not planes:
            planes.append((dim, np.asarray(
                random_hyperplanes(dim, n_planes, seed), dtype=np.float64,
            ).T))
        x = np.vstack(vs.to_numpy()).astype(np.float64)  # n x dim
        bits = (x @ planes[0][1]) >= 0.0  # n x (T*B)
        vals = bits.reshape(len(x), num_tables, bits_per_table) @ pow2
        return pd.Series(list(vals + offsets))

    slim = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_buckets(F.col(vec_col))).alias("__bucket"),
    )
    if max_bucket_size is not None:
        # Single-consumer pair generation (r11, guide §2.4/§5): the r10
        # shape paid FOUR extra driver actions/barriers — an eager
        # localCheckpoint of slim (the self-join consumed it twice and
        # AQE never reuses an exchange across consumers on the write
        # path), a broadcast anti-join build for the bucket cap, an
        # eager localCheckpoint of the candidate pairs, and a count()
        # job gating the verification broadcast.  Grouping each
        # bucket's ids makes the bucketing matmul SINGLE-consumer: the
        # whole operator is one continuous plan, no checkpoint, no
        # anti-join, no count job.  The pieces:
        #
        # * bucket cap: a count window keyed like the groupBy (same
        #   hashpartitioning — ONE exchange serves both, guide §2.4);
        #   WindowExec's sort buffer spills instead of OOMing on a
        #   degenerate pileup, so the collect_list state below is
        #   bounded by max_bucket_size BY CONSTRUCTION (this ordering
        #   is why the capped path may group at all).
        # * pairs: sort_array(collect_list) per bucket, each element
        #   paired with its strict suffix (slice) — exactly the
        #   id_a < id_b output of the old bucket-local self-join
        #   (ids are unique within a bucket: one bucket per table per
        #   row; the `!=` filter reproduces the old strict `<` for
        #   duplicate-id corpora, and drops NULL-id pairs like the
        #   old NULL-rejecting `<`).
        # * verification broadcast: decided by AQE from the distinct's
        #   RUNTIME size (the exact stats the old count() job paid a
        #   driver action for); past the broadcast threshold the plan
        #   keeps the planner's sort-merge shape, same scale guard as
        #   before.  ``max_broadcast_candidates`` only governs the
        #   uncapped legacy path below.
        from pyspark.sql.window import Window

        wb = Window.partitionBy("__bucket")
        capped = slim.withColumn(
            "__bn", F.count(F.lit(1)).over(wb)
        ).where(F.col("__bn") <= max_bucket_size)
        grouped = (
            capped.groupBy("__bucket")
            .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
            .where(F.size("__ids") >= 2)
        )
        cand = (
            grouped.select(
                F.col("__ids"),
                F.posexplode("__ids").alias("__i", "id_a"),
            )
            .select(
                "id_a",
                F.explode(
                    F.slice(
                        F.col("__ids"),
                        F.col("__i") + F.lit(2),
                        F.size("__ids"),
                    )
                ).alias("id_b"),
            )
            .where(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
    else:
        # Uncapped path: collect_list state would be unbounded on a
        # degenerate bucket, so keep the r10 materialized self-join
        # (streams C(m,2) pairs instead of buffering m ids).  The
        # matmul has two consumers here, hence the barrier.
        from .materialize import materialize

        slim = materialize(slim)
        a = slim.select(F.col("__bucket"), F.col("__id").alias("id_a"))
        b = slim.select(F.col("__bucket"), F.col("__id").alias("id_b"))
        # force sort-merge for the self-join: auto-broadcast would pick
        # the post-UDF side whose size Catalyst can't estimate — at
        # corpus scale broadcasting slim is an OOM.
        cand = (
            a.hint("merge")
            .join(b.hint("merge"), "__bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        cand = materialize(cand)
    # exact-verify with per-id norms precomputed on the n-row vector
    # sides (not per candidate pair): the interpreted aggregate() HOF is
    # the expensive part of verification, and dot/(na*nb) is
    # IEEE-identical to the inline cosine_similarity expression, so the
    # oracle hash is unchanged while 2/3 of the HOF work disappears
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    if max_bucket_size is not None:
        # AQE rewrites these to broadcast-hash joins of the candidate
        # side at runtime when the distinct's output is small — the
        # stats-driven form of the old count()-gated hint, minus its
        # driver action.  Row set identical either way.
        joined = cand.join(va, "id_a").join(vb, "id_b")
    elif cand.count() <= max_broadcast_candidates:
        # legacy path: the candidate set is already materialized, and
        # its exact count is one cheap job over checkpointed blocks.
        # The bound counts candidate PAIRS; the larger broadcast is
        # step1 (pair + one vector), so 100k pairs x ~1k-dim float64
        # tops out ~1 GB — inside the 8 GB broadcast ceiling.
        step1 = F.broadcast(cand).join(va, "id_a")
        joined = F.broadcast(step1).join(vb, "id_b")
    else:
        joined = cand.join(va, "id_a").join(vb, "id_b")
    return (
        joined
        .withColumn(
            "cosine",
            dot(F.col("__va"), F.col("__vb"))
            / F.greatest(F.col("__na") * F.col("__nb"), F.lit(_NORM_EPS)),
        )
        .filter(F.col("cosine") > threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_docs: int = 1,
    materialize_tokens: bool = True,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Exact duplicated-substring removal (the Lee et al. 2022
    "Deduplicating Training Data" substring step, shingle-relational
    form): any ``n``-token span that occurs in more than ``max_docs``
    distinct documents is removed from *every* document — a token
    survives iff no duplicated span covers it. Docs shorter than ``n``
    tokens form one whole-doc span.

    Output: ``id, cleaned, n_tokens, n_removed`` (cleaned text is
    whitespace-normalized lowercase, the same normalization the
    shingles use).

    Scale shape (mirrors :func:`drop_common_lines`, r9 one-scan form):
    the corpus is scanned and TOKENIZED exactly once — the (id, tokens)
    relation is materialized (``materialize_tokens``; ``checkpoint_dir``
    selects the executor-loss-safe form) and all three consumers (span
    document-frequency, hit positions, final reassembly) read its
    blocks, because Spark/AQE re-executes a shared subtree per consumer
    and the r8 form paid three scan+tokenize passes.  N-GRAMS are still
    rebuilt per consuming branch from the materialized tokens
    (materializing the ~n× gram blowup would cost more than the cheap
    in-codegen rebuild).  Span document-frequency dedups within each
    doc map-side (``array_distinct``) and pays one count shuffle; the
    duplicated span set broadcasts into the hit join, so only *hit*
    positions — duplication volume, not corpus volume — shuffle into
    the per-doc start list; the final doc⋈starts join is the one
    corpus-keyed shuffle. Mask/removal is per-row higher-order-function
    codegen.
    """
    from .materialize import materialize

    src = ensure_parallelism(df)
    toked = src.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("__stoks")
    )
    if materialize_tokens:
        toked = materialize(toked, checkpoint_dir)
    grams = word_ngrams_col("__stoks", n)
    common = (
        toked.select(F.explode(F.array_distinct(grams)).alias("gram"))
        .where(F.col("gram") != "")
        .groupBy("gram")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_docs)
        .select("gram")
    )
    hits = (
        toked.select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .join(F.broadcast(common), "gram")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__starts"))
    )
    # the reassembly branch reads the SAME materialized tokens — the
    # r8 form re-scanned and re-tokenized the corpus a third time
    base = toked.select(F.col(id_col), F.col("__stoks").alias("__toks"))
    joined = base.join(hits, on=id_col, how="left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    pairs = F.transform(
        F.col("__toks"), lambda t, i: F.struct(t.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        pairs,
        lambda p: ~F.exists(
            F.col("__starts"), lambda s: (s <= p.i) & (p.i < s + F.lit(n))
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda p: p.t), " ").alias("cleaned"),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_removed"),
    )
