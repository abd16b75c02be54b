"""Benchmark decontamination: remove training documents that share
n-grams with an evaluation/benchmark set.

The standard pretraining hygiene step (13-gram overlap in GPT-3/PaLM
style pipelines): any training document containing an n-gram that also
appears in a benchmark document is flagged (and usually dropped).

Scale design (100 TB corpus, MB-GB benchmark):

* The benchmark n-gram set is built once — explode + distinct — and is
  tiny relative to the corpus (eval sets are thousands of documents),
  so the overlap join is a **broadcast** hash join: the corpus side
  never shuffles for the join itself.
* Corpus shingling is pure codegen (``sequence``/``transform``/
  ``slice`` — no UDF) and the explode is pipelined straight into the
  broadcast join; nothing wider than ``(doc_id, shingle)`` ever
  materializes, and only matching rows survive to the single
  ``groupBy(doc_id)`` shuffle, whose volume is the *contamination*
  volume (near-zero for a clean corpus), not the corpus volume.
* ``decontaminate`` anti-joins the flagged ids back against the
  corpus — again broadcast, since the flagged set is small.

Reference has no decontamination operator (this is a beyond-reference
training-data operator per the build plan, SURVEY.md §7.2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    ensure_parallelism,
    normalized_tokens,
    word_shingles_col,
)

__all__ = [
    "benchmark_ngrams",
    "ngram_overlap",
    "decontaminate",
    "minhash_overlap",
    "fuzzy_decontaminate",
    "fuzzy_decontaminate_rowwise",
    "contamination_report",
]


def _bench_id_counts(benchmark: DataFrame, bench_id_col: str):
    """One small aggregate over the benchmark: rows ``n``, non-NULL ids
    ``nn`` and distinct ids ``nd``.  Run inline before any corpus-side
    work, so an invalid benchmark fails before the corpus is read."""
    return benchmark.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.col(bench_id_col)).alias("nn"),
        F.countDistinct(F.col(bench_id_col)).alias("nd"),
    ).collect()[0]


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """Distinct word n-grams of the benchmark set (column ``shingle``).

    One small aggregation over the benchmark; the result is the
    broadcast side of every overlap join.
    """
    return (
        benchmark.select(
            normalized_tokens(F.col(text_col)).alias("__btoks")
        )
        .select(
            F.explode(word_shingles_col("__btoks", n)).alias(
                "shingle"
            )
        )
        # word_ngrams emits '' for empty/whitespace docs; one blank
        # benchmark row must not flag every blank corpus doc
        .where(F.col("shingle") != "")
        .distinct()
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Per-document count of distinct n-grams shared with ``benchmark``.

    Returns ``(id_col, n_overlap)`` for documents with at least one
    overlapping n-gram (sparse: clean documents are absent). Shingles
    are distinct per document, so ``n_overlap`` counts distinct shared
    n-grams.
    """
    bench = benchmark_ngrams(benchmark, text_col, n)
    corp = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col), normalized_tokens(F.col(text_col)).alias("__ctoks")
        )
        .select(
            F.col(id_col),
            F.explode(word_shingles_col("__ctoks", n)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )
    return (
        corp.join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    threshold: int = 1,
) -> DataFrame:
    """Corpus minus documents with ``>= threshold`` overlapping n-grams.

    The flagged-id set is small (contamination is rare), so the anti
    join broadcasts it; the corpus passes through with zero shuffles.
    """
    if threshold < 1:
        # the overlap table is SPARSE (clean docs are absent), so
        # threshold<=0 would silently behave exactly like threshold=1
        raise ValueError(
            f"decontaminate: threshold must be >= 1, got {threshold}"
        )
    if n < 1:
        raise ValueError(f"decontaminate: n must be >= 1, got {n}")
    flagged = (
        ngram_overlap(corpus, benchmark, text_col, id_col, n)
        .where(F.col("n_overlap") >= threshold)
        .select(id_col)
    )
    # null-safe anti-join: a plain equi-anti-join never matches NULL
    # keys, so a contaminated NULL-id document silently survived into
    # training data.  ngram_overlap groups all NULL ids as one document,
    # and this removal follows that same granularity.
    cond = corpus[id_col].eqNullSafe(flagged[id_col])
    return corpus.join(F.broadcast(flagged), cond, "left_anti")


def minhash_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_fn: str = "md5",
    validate_ids: bool = False,
) -> DataFrame:
    """FUZZY train-vs-benchmark overlap (the GPT-3-style companion to
    exact :func:`ngram_overlap`): near-duplicate flags survive
    paraphrase-level edits that break exact 13-gram matching.  MinHash
    LSH banding proposes candidate (corpus doc, benchmark doc) pairs;
    each candidate is then verified by EXACT shingle-set Jaccard, and
    pairs at or above ``threshold`` are returned as
    ``(id, bench_id, jaccard)`` (4dp, set semantics matching what the
    MinHash estimates).

    Scale shape (100 TB corpus, MB-GB benchmark): every benchmark-side
    relation — its band table, its shingle set, the candidate-pair
    list — is small by construction, so every join the corpus touches
    is a BROADCAST join and the corpus never shuffles for them; the
    only shuffles are the corpus's own minhash signature aggregation
    and the candidate-bounded intersection count (volume = the
    contamination, near-zero on a clean corpus).  Corpus docs with
    NULL ids never match a band join and are never flagged — give
    rows unique ids upstream (:func:`fuzzy_decontaminate` enforces
    NON-NULL ids and forwards ``validate_ids`` for the uniqueness
    check).  Corpus ids must also be UNIQUE — like
    :func:`~.text.bm25_scores`' doc_id contract: duplicate-id rows
    pool into ONE union minhash signature while the exact-Jaccard
    verification SUMS shingle counts across the id's rows, skewing
    jaccard in both directions; an eager distinct-count check would
    cost a full corpus pass, so by default this is a documented
    contract — pass ``validate_ids=True`` to fold a duplicate-id
    check into the EXISTING corpus signature aggregation (a per-row
    tag + ``count_distinct`` riding the groupBy that is already there,
    no extra pass) and raise loudly on any id with multiple non-empty
    rows.  Benchmark ids must be UNIQUE and
    NON-NULL: NULL/duplicate ids would silently pool distinct bench
    docs into one union signature (deflating every Jaccard) — the
    benchmark is small, so this is validated eagerly and rejected.
    """
    from .dedup import minhash_bands

    if not 0 < threshold <= 1:
        raise ValueError(
            f"minhash_overlap: threshold must be in (0, 1], got {threshold}"
        )
    if id_col in ("bench_id", "jaccard"):
        raise ValueError(
            f"minhash_overlap: id_col {id_col!r} collides with an output "
            "column name — rename the corpus id column first"
        )
    bench_text_col = bench_text_col if bench_text_col is not None else text_col

    def _fresh(base: str) -> str:
        name = base
        while name in corpus.columns or name == id_col:
            name = "_" + name
        return name

    bid = _fresh("__bench_id")
    sc = _fresh("__s")
    sza, szb, itc = _fresh("__size_a"), _fresh("__size_b"), _fresh("__inter")
    # eager benchmark-id validation: one tiny aggregate over the small
    # side, before the banding pass touches the corpus
    chk = _bench_id_counts(benchmark, bench_id_col)
    if chk["nn"] != chk["n"]:
        raise ValueError(
            f"minhash_overlap: benchmark has {chk['n'] - chk['nn']} NULL "
            f"{bench_id_col!r} ids — NULL ids silently pool documents "
            "into one signature; assign unique ids first"
        )
    if chk["nd"] != chk["nn"]:
        raise ValueError(
            f"minhash_overlap: benchmark {bench_id_col!r} ids are not "
            "unique — duplicate ids pool documents into one signature; "
            "deduplicate or re-key the benchmark first"
        )

    from .materialize import materialize

    bench = benchmark.select(
        F.col(bench_id_col).alias(bid),
        F.col(bench_text_col).alias("__btext"),
    )
    dup_tag = None
    corpus_in = corpus
    if validate_ids:
        # per-ROW tag (unique within this computation); the
        # signature groupBy counts distinct tags per id — >1 means
        # pooled rows
        dup_tag = _fresh("__mo_rowtag")
        corpus_in = corpus.withColumn(
            dup_tag, F.monotonically_increasing_id()
        )
    cb = minhash_bands(
        corpus_in, id_col, text_col, num_hashes, bands, shingle_n,
        hash_fn, dup_check_col=dup_tag,
    )
    bb = minhash_bands(
        bench, bid, "__btext", num_hashes, bands, shingle_n, hash_fn
    )
    cand = (
        cb.join(F.broadcast(bb), ["band", "band_hash"])
        .select(id_col, bid)
        .distinct()
    )
    # eagerly materialize the candidate pairs (bounded by banding
    # collisions — contamination-scale, never corpus-scale): they
    # feed the corpus semi-filter AND the verification's pair filter,
    # and AQE never reuses a shared exchange across consumers —
    # without this each consumer re-ran the full MinHash banding pass
    # (the r8 scan audit measured 10 corpus scans in
    # fuzzy_decontaminate's executed plan; 3 after)
    cand = materialize(cand)
    # exact verification of the candidates only: restrict the corpus to
    # candidate docs (broadcast semi join — the candidate id list is
    # bounded by banding collisions), then count shared DISTINCT
    # shingles against the broadcast benchmark shingle table
    cand_ids = cand.select(id_col).distinct()
    cs = (
        corpus.join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(
            F.col(id_col), normalized_tokens(F.col(text_col)).alias("__ctoks")
        )
        .select(
            F.col(id_col),
            F.explode(word_shingles_col("__ctoks", shingle_n)).alias(sc),
        )
        .where(F.col(sc) != "")
    )
    # same rule for the candidate-doc shingle table (two consumers:
    # per-doc sizes + the intersection counts): candidate-bounded, and
    # its one build pays the only remaining verification corpus scan —
    # measured wall-clock-flat vs the lazy form at sf0.1 (3.4s both,
    # same-session A/B) while the executed probe plan drops from 10
    # corpus scans to 2.
    cs = materialize(cs)
    bs = (
        bench.select(
            F.col(bid), normalized_tokens(F.col("__btext")).alias("__btoks")
        )
        .select(
            F.col(bid),
            F.explode(word_shingles_col("__btoks", shingle_n)).alias(sc),
        )
        .where(F.col(sc) != "")
    )
    size_a = cs.groupBy(id_col).agg(F.count(F.lit(1)).alias(sza))
    size_b = bs.groupBy(bid).agg(F.count(F.lit(1)).alias(szb))
    # the candidate-pair semi filter sits BEFORE the aggregation: a
    # candidate doc sharing common shingles with NON-candidate bench
    # docs would otherwise push all those (id, bid) groups through the
    # shuffle only to be discarded after
    inter = (
        cs.join(F.broadcast(bs), sc)
        .join(F.broadcast(cand), [id_col, bid], "left_semi")
        .groupBy(id_col, bid)
        .agg(F.count(F.lit(1)).alias(itc))
    )
    jacc = F.col(itc) / (F.col(sza) + F.col(szb) - F.col(itc))
    jc = _fresh("__j")
    return (
        inter.join(size_a, id_col)
        .join(F.broadcast(size_b), bid)
        .withColumn(jc, jacc)
        .where(F.col(jc) >= threshold)
        .select(
            F.col(id_col),
            F.col(bid).alias("bench_id"),
            F.round(jc, 4).alias("jaccard"),
        )
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_fn: str = "md5",
    validate_ids: bool = False,
) -> DataFrame:
    """Drop every corpus row :func:`minhash_overlap` flags at or above
    ``threshold`` — the fuzzy sibling of :func:`decontaminate`.  The
    flagged id set is contamination-sized, so the removal is a
    broadcast anti-join (corpus side never shuffles).

    NULL corpus ids are REJECTED, inline: a NULL-id row can never be
    flagged by the band join nor matched by the equi anti-join, so a
    benchmark-leaked NULL-id document would survive silently — the
    exact twin :func:`decontaminate` closes the same hole with
    ``eqNullSafe``.  The guard is a ``raise_error`` branch inside the
    id projection (whole-stage codegen, zero extra pass — an eager
    NULL count would cost a full corpus scan): the job fails loudly at
    the first NULL id.  Assign ids upstream
    (``monotonically_increasing_id``) or use the id-free
    :func:`fuzzy_decontaminate_rowwise`."""
    corpus = corpus.withColumn(
        id_col,
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    f"fuzzy_decontaminate: corpus has NULL {id_col!r} ids — "
                    "NULL-id rows can never be flagged or anti-joined, so a "
                    "contaminated row would silently survive; assign unique "
                    "ids upstream or use fuzzy_decontaminate_rowwise"
                )
            ),
        ).otherwise(F.col(id_col)),
    )
    flagged = minhash_overlap(
        corpus,
        benchmark,
        id_col=id_col,
        bench_id_col=bench_id_col,
        text_col=text_col,
        bench_text_col=bench_text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        hash_fn=hash_fn,
        # duplicate-id rows pool signatures and skew the verification
        # jaccard (see minhash_overlap's contract) — forward the opt-in
        # uniqueness check so decontamination can enforce it too
        validate_ids=validate_ids,
    ).select(id_col).distinct()
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")

def fuzzy_decontaminate_rowwise(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_fn: str = "md5",
) -> DataFrame:
    """STREAMING twin of :func:`fuzzy_decontaminate` — stateless, so it
    runs UNCHANGED on a streaming frame (the live-crawl ingestion
    filter: drop incoming documents that near-duplicate a benchmark
    before they ever land).  Kept rows are row-identical to the batch
    operator on the same data (pinned by test), and no id column is
    needed: the row itself is the unit.

    How it stays stateless: band keys and the distinct shingle set are
    computed PER ROW (:func:`~.dedup.with_minhash_band_keys`, zero
    shuffle), and the drop is ONE stream-static broadcast ANTI-join
    whose condition does both LSH candidacy (``arrays_overlap`` on
    band keys) and the exact-Jaccard verification
    (``array_intersect`` against the benchmark row's shingle set) —
    no stream-side aggregation or state store at all.

    Cost model: the anti-join is a broadcast nested-loop over the
    benchmark (condition join), so each row pays ``n_bench`` cheap
    band-key overlap checks and the expensive intersect only on band
    collisions — fine for rate-limited streams and small batches;
    corpus-scale BATCH jobs should use :func:`fuzzy_decontaminate`,
    whose candidate generation is an equi-join.  Empty/NULL text rows
    have no shingles, never collide, and are kept.

    Batch-misuse guard (VERDICT r5 next-steps #4): nothing in the API
    STOPS a caller pointing this at a batch corpus, where the per-row
    BNLJ cost model above is the wrong trade — so a non-streaming
    input emits a loud ``UserWarning`` naming
    :func:`fuzzy_decontaminate` (and ``plans/inspect.py``'s
    BroadcastNestedLoopJoin lint flags the executed plan
    independently).  Semantics are unchanged either way: small batch
    verification runs — how the parity tests pin this twin — stay
    legal, just noisy.
    """
    import warnings as _warnings

    from .dedup import with_minhash_band_keys

    if not 0 < threshold <= 1:
        raise ValueError(
            "fuzzy_decontaminate_rowwise: threshold must be in (0, 1], "
            f"got {threshold}"
        )
    if not df.isStreaming:
        _warnings.warn(
            "fuzzy_decontaminate_rowwise on a BATCH frame: every row pays "
            "a broadcast nested-loop pass over the benchmark — corpus-scale "
            "batch jobs should use fuzzy_decontaminate (equi-join candidate "
            "generation); this twin exists for streams and small "
            "verification runs",
            UserWarning,
            stacklevel=2,
        )
    bench_text_col = bench_text_col if bench_text_col is not None else text_col

    def _fresh(base, taken):
        name = base
        while name in taken:
            name = "_" + name
        return name

    taken = set(df.columns) | set(benchmark.columns)
    keys_c = _fresh("__fz_keys", taken)
    sh_c = _fresh("__fz_sh", taken)
    bkeys_c = _fresh("__fz_bkeys", taken)
    bsh_c = _fresh("__fz_bsh", taken)

    staged = with_minhash_band_keys(
        df, text_col, keys_col=keys_c, shingles_col=sh_c,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_fn=hash_fn,
    )
    bench_p = with_minhash_band_keys(
        benchmark.select(F.col(bench_text_col).alias("__fz_btext")),
        "__fz_btext", keys_col=bkeys_c, shingles_col=bsh_c,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        hash_fn=hash_fn,
    ).select(bkeys_c, bsh_c)

    inter = F.size(F.array_intersect(F.col(sh_c), F.col(bsh_c)))
    jacc_ok = (
        inter
        / (F.size(F.col(sh_c)) + F.size(F.col(bsh_c)) - inter)
    ) >= F.lit(float(threshold))
    cond = F.arrays_overlap(F.col(keys_c), F.col(bkeys_c)) & jacc_ok
    return staged.join(F.broadcast(bench_p), cond, "left_anti").drop(
        keys_c, sh_c
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 13,
    min_dirty_grams: int = 1,
) -> DataFrame:
    """Per-benchmark-ITEM contamination report — the other direction of
    :func:`decontaminate`: instead of cleaning the corpus, measure how
    compromised each EVAL example is (the GPT-3 appendix-C /
    clean-vs-dirty-split methodology: after training-set leakage, you
    report metrics on the clean subset).

    For every benchmark row: ``n_grams`` (its distinct word n-grams),
    ``n_dirty_grams`` (how many of those appear in >= 1 corpus
    document), ``dirty_frac = n_dirty_grams / n_grams`` (6dp; NULL for
    gram-less items), ``n_corpus_docs`` (distinct corpus documents
    sharing >= 1 gram), and ``is_dirty`` (``n_dirty_grams >=
    min_dirty_grams`` — the paper's flag at the default 1).  Items
    with no overlap report zeros, not absence: the report is the
    benchmark's integrity card, every row present.

    Benchmark ids must be unique and non-NULL (validated eagerly on
    the small side, like :func:`minhash_overlap`).

    Scale shape (100 TB corpus, MB-GB benchmark): the per-item gram
    table is benchmark-sized and BROADCASTS into the corpus's single
    explode pass; everything after the join — the per-item distinct
    counts — aggregates hit pairs, whose volume is the contamination
    itself (near zero on a clean corpus).  The corpus never shuffles.
    """
    if min_dirty_grams < 1:
        raise ValueError(
            "contamination_report: min_dirty_grams must be >= 1, got "
            f"{min_dirty_grams}"
        )
    if id_col == "bench_id":
        raise ValueError(
            "contamination_report: id_col 'bench_id' collides with the "
            "output column name — rename the corpus id column first"
        )
    bench_text_col = bench_text_col if bench_text_col is not None else text_col
    # eager id validation on the small side, before any gram work
    chk = _bench_id_counts(benchmark, bench_id_col)
    if chk["nn"] != chk["n"] or chk["nd"] != chk["nn"]:
        raise ValueError(
            "contamination_report: benchmark ids must be unique and "
            "non-NULL — a per-item report is meaningless under pooled ids"
        )

    from .materialize import materialize

    base = benchmark.select(F.col(bench_id_col).alias("bench_id"))
    # benchmark-sized and consumed twice (per-item gram counts + the
    # broadcast into the corpus join) — materialize so neither
    # consumer re-tokenizes the benchmark source (AQE shares no
    # subtree across consumers on the write path)
    bg = materialize(
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            normalized_tokens(F.col(bench_text_col)).alias("__btoks"),
        )
        .select(
            F.col("bench_id"),
            F.explode(word_shingles_col("__btoks", n)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )
    sizes = bg.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    corp = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col), normalized_tokens(F.col(text_col)).alias("__ctoks")
        )
        .select(
            F.col(id_col),
            F.explode(word_shingles_col("__ctoks", n)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )
    hits = corp.join(F.broadcast(bg), "shingle")
    per_item = hits.groupBy("bench_id").agg(
        F.countDistinct("shingle").cast("bigint").alias("n_dirty_grams"),
        # count the NULL-id pseudo-document too: countDistinct skips
        # NULLs, which reported n_corpus_docs=0 on rows that the same
        # report flags is_dirty=true
        F.count_distinct(
            F.coalesce(F.col(id_col).cast("string"), F.lit("\x00"))
        ).cast("bigint").alias("n_corpus_docs"),
    )
    joined = (
        base.join(F.broadcast(sizes), "bench_id", "left")
        .join(F.broadcast(per_item), "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint")).alias(
                "n_grams"
            ),
            F.coalesce(
                F.col("n_dirty_grams"), F.lit(0).cast("bigint")
            ).alias("n_dirty_grams"),
            F.coalesce(
                F.col("n_corpus_docs"), F.lit(0).cast("bigint")
            ).alias("n_corpus_docs"),
        )
    )
    return joined.select(
        "bench_id",
        "n_grams",
        "n_dirty_grams",
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_dirty_grams") / F.col("n_grams"), 6),
        ).alias("dirty_frac"),
        "n_corpus_docs",
        (F.col("n_dirty_grams") >= F.lit(int(min_dirty_grams))).alias(
            "is_dirty"
        ),
    )
