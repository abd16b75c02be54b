"""Text-analysis operators: token counting, quality scoring,
language ID, fingerprinting.

Everything here is built-in-function only (split/regexp/md5/array ops)
— one narrow projection over the corpus, no shuffle, no Python — so a
quality-scoring pass over 100 TB is a single map stage whose cost is
dominated by the parquet scan itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import ensure_parallelism, normalized_tokens, word_ngrams_col

__all__ = [
    "chunk_documents",
    "redact_pii",
    "strip_markup",
    "repetition_features",
    "PII_PATTERNS",
    "luhn_cards",
    "bpe_pair_counts",
    "train_bpe",
    "bpe_encode",
    "bpe_vocab",
    "tokens_to_ids",
    "tokenizer_fertility",
    "gopher_rules",
    "GOPHER_STOPWORDS",
    "c4_rules",
    "fineweb_rules",
    "bm25_scores",
    "tfidf_top_terms",
    "unigram_logprob",
    "bigram_logprob",
    "kn_bigram_logprob",
    "kn_bigram_fit",
    "kn_bigram_score",
    "kn_trigram_logprob",
    "kn_trigram_fit",
    "kn_trigram_score",
    "vocabulary",
    "token_count",
    "bpe_ish_token_count",
    "text_features",
    "quality_score",
    "detect_language",
    "fingerprint",
    "STOPWORDS",
    "SCRIPT_RANGES",
    "script_profile",
    "FOLD_FROM",
    "FOLD_TO",
    "normalize_text",
    "oov_rate",
]

# Small, fixed stopword lists for the n-gram/stopword language heuristic.
# Deliberately tiny: language ID here is a cheap pre-filter, not a model.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
}


def _nonempty_lines(text: Column) -> Column:
    """The rule operators' shared line definition: split on ``\\r?\\n``
    (CRLF-safe — a trailing ``\\r`` would otherwise ride into every
    line's length, char count, and end-anchored regex) and drop lines
    that trim to empty.  One helper so :func:`gopher_rules`,
    :func:`fineweb_rules`, and :func:`c4_rules` provably agree on what
    a line is."""
    return F.filter(
        F.split(text, r"\r?\n"), lambda l: F.trim(l) != F.lit("")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count.  NULL text counts as 0 (module policy:
    NULL behaves like empty — a NULL count silently drops the row from
    BOTH sides of any token-threshold filter)."""
    return F.size(normalized_tokens(F.coalesce(text, F.lit(""))))


def bpe_ish_token_count(text: Column) -> Column:
    """Approximate BPE token count without a tokenizer model: count
    word-piece-ish units (runs of letters, digits, or single
    punctuation) — the standard ~chars/4 style estimator done
    symbol-aware. Useful for token budgeting at corpus scale."""
    pieces = F.filter(
        F.split(
            F.regexp_replace(
                F.lower(F.coalesce(text, F.lit(""))),
                r"([a-z]+|[0-9]+|[^a-z0-9\s])",
                "$1\x1f",
            ),
            "\x1f",
        ),
        lambda t: F.trim(t) != F.lit(""),
    )
    return F.size(pieces)


def text_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality feature vector (all codegen-side):
    char/token counts, average token length, punctuation/digit/space
    ratios, stopword ratio (en), distinct-token ratio."""
    # NULL text behaves exactly like empty text: length(NULL)/size(NULL)
    # would NULL-poison every ratio AND the score, silently dropping the
    # doc from BOTH sides of any threshold filter — the same hole the
    # empty-doc clamp below closes
    text0 = F.coalesce(F.col(text_col), F.lit(""))
    # stage text + tokens once: the feature expressions below reference
    # the token array ~8 times across interpreted-HOF boundaries
    # (word_ngrams_col contract — inlined splits re-tokenize per
    # reference)
    df = df.select(
        F.col(id_col),
        text0.alias("__ftext"),
        normalized_tokens(text0).alias("__ftoks"),
    )
    text = F.col("__ftext")
    toks = F.col("__ftoks")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    # empty docs: ratio denominators clamp to 1 (ratios 0.0, never NULL
    # or DIVIDE_BY_ZERO under ANSI)
    safe_chars = F.greatest(n_chars, F.lit(1))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(
            (n_chars - F.length(F.regexp_replace(text, r"\s", ""))) / safe_chars, 4
        ).alias("space_ratio"),
        F.round(
            F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", "")) / safe_chars, 4
        ).alias("punct_ratio"),
        F.round(F.length(F.regexp_replace(text, r"[^0-9]", "")) / safe_chars, 4).alias(
            "digit_ratio"
        ),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
            / F.greatest(n_tokens, F.lit(1)),
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)), 4
        ).alias("distinct_ratio"),
        F.round(
            F.aggregate(
                toks, F.lit(0), lambda acc, t: acc + F.length(t)
            )
            / F.greatest(n_tokens, F.lit(1)).cast("double"),
            4,
        ).alias("avg_token_len"),
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scalar quality score in [0,1]: a fixed linear blend of the
    feature vector — the shape of heuristic quality filters used for
    pretraining-data curation (length band + stopword presence +
    lexical diversity, penalized for digit/punct noise)."""
    feats = text_features(df, text_col, id_col)
    length_band = F.when(
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 1000), 1.0
    ).otherwise(
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.5
    )
    score = (
        0.35 * length_band
        + 0.25 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
        + 0.25 * F.col("distinct_ratio")
        + 0.15 * (1.0 - F.least(F.col("digit_ratio") * 10.0, F.lit(1.0)))
    )
    # deliberately NOT rounded: the blend of 4dp-rounded ratios lands on
    # exact .00005 boundaries where engines' ROUND implementations
    # disagree; the unrounded double is bit-identical across engines
    return feats.select(id_col, "n_tokens", score.alias("quality_score"))


def detect_language(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-overlap language ID over the fixed :data:`STOPWORDS`
    lists; emits the per-language hit ratios and the argmax (ties break
    by language code, 'und' when nothing matches)."""
    # NULL text behaves like empty (ratios 0.0, lang 'und'), per the
    # module's NULL policy
    # staged token array (word_ngrams_col contract): one split per row
    # instead of one per language filter
    staged = df.select(
        F.col(id_col),
        normalized_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias(
            "__ltoks"
        ),
    )
    toks = F.col("__ltoks")
    n = F.greatest(F.size(toks), F.lit(1))
    ratio_cols = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        ratio_cols[lang] = F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t))) / n, 4
        )
    base = staged.select(
        F.col(id_col), *[c.alias(f"ratio_{lang}") for lang, c in ratio_cols.items()]
    )
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"ratio_{lang}") for lang in langs])
    pred = F.lit("und")
    # iterate reversed so earlier languages win ties (first match kept)
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"ratio_{lang}") == best), lang
        ).otherwise(pred)
    return base.withColumn("predicted_lang", pred)


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition quality signals per document: total and
    distinct word n-gram counts, the count of the single most frequent
    n-gram, and the derived duplicate-n-gram and top-n-gram-coverage
    fractions.

    High ``dup_frac`` / ``top_frac`` flags boilerplate and degenerate
    repetition — the standard repetition filters for pretraining-data
    curation (Gopher §A.1.1 heuristics).

    Zero shuffle: everything is per-row array codegen. The most
    frequent n-gram count is computed as the longest run in the
    *sorted* n-gram array via a single ``aggregate`` fold —
    O(t log t) per document, not O(t²) — so a repetition pass over
    100 TB is one map stage dominated by the scan.

    The n-gram array is materialized in its own projection so the three
    consumers (size, distinct-size, sorted fold) share ONE evaluation:
    the fold is an interpreted higher-order function, and Catalyst's
    codegen subexpression elimination cannot deduplicate across the
    codegen/interpreted boundary, so the inline form rebuilds the
    n-grams per consumer. CollapseProject keeps the split (it refuses
    to duplicate non-cheap expressions referenced more than once).
    """
    # NULL text counts as empty; docs with fewer than n tokens have NO
    # n-grams, so every count is 0 and both fractions are 0.0 — the
    # NEUTRAL signal (word_ngrams' sentinel/partial gram would otherwise
    # report top_frac = 1.0 and a Gopher-style "top_frac > t" filter
    # would drop every short doc as maximally repetitive)
    text = F.coalesce(F.col(text_col), F.lit(""))
    # two-level staging (word_ngrams_col contract): the token array is
    # its own projection so the gram build and the >=n check share ONE
    # regex split, and the gram array is staged for its three consumers
    df = (
        ensure_parallelism(df)
        .select(F.col(id_col), normalized_tokens(text).alias("__rtoks"))
        .select(
            F.col(id_col),
            word_ngrams_col("__rtoks", n).alias("__grams"),
            (F.size(F.col("__rtoks")) >= n).alias("__has_grams"),
        )
    )
    grams = F.col("__grams")
    sorted_grams = F.array_sort(grams)
    zero = F.lit(0).cast("bigint")
    run_of = lambda acc, g: (  # noqa: E731 - local expression helper
        F.when(g == acc.prev, acc.run + 1).otherwise(zero + 1)
    )
    top = F.aggregate(
        sorted_grams,
        F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
        ),
        # build the new-run expression ONCE per step and reference it
        # from both fields — the lambda runs per n-gram per document, so
        # a duplicated when() comparison doubles the hot-loop work
        lambda acc, g: (
            lambda new_run: F.struct(
                g.alias("prev"),
                new_run.alias("run"),
                F.greatest(acc.best, new_run).alias("best"),
            )
        )(run_of(acc, g)),
        lambda acc: acc.best,
    )
    zero_b = F.lit(0).cast("bigint")
    out = df.select(
        F.col(id_col),
        F.when(F.col("__has_grams"), F.size(grams).cast("bigint"))
        .otherwise(zero_b)
        .alias("n_grams"),
        F.when(
            F.col("__has_grams"), F.size(F.array_distinct(grams)).cast("bigint")
        )
        .otherwise(zero_b)
        .alias("n_distinct"),
        F.when(F.col("__has_grams"), top).otherwise(zero_b).alias("top_count"),
    )
    n_grams_d = F.col("n_grams").cast("double")
    nz = F.col("n_grams") > 0
    return out.select(
        id_col,
        "n_grams",
        "n_distinct",
        "top_count",
        F.when(nz, (F.col("n_grams") - F.col("n_distinct")) / n_grams_d)
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        F.when(nz, F.col("top_count") / n_grams_d)
        .otherwise(F.lit(0.0))
        .alias("top_frac"),
    )


# Patterns are written in the common subset of Java regex (Spark) and
# RE2 (DuckDB/Go/C++ scanners): no lookbehind, ASCII \b only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Scrub PII-shaped substrings before training: each pattern is
    replaced by ``[NAME]`` and counted. Output: ``id, redacted``
    plus one ``n_<name>`` count per pattern.

    Counts are measured on the *original* text per pattern;
    replacements apply sequentially in ``patterns`` order (so an
    earlier pattern cannot hide a later one's count, but can consume
    its text — order patterns most-specific first).

    Zero shuffle: ``regexp_replace``/``regexp_extract_all`` are
    whole-stage codegen, so a scrub of 100 TB is one map stage
    pipelined into the scan.
    """
    patterns = PII_PATTERNS if patterns is None else patterns
    # NULL text behaves like empty: NULL counts would mis-report every
    # "n_email == 0" PII-clean assertion
    text = F.coalesce(F.col(text_col), F.lit(""))
    redacted = text
    for name, pat in patterns.items():
        # the replacement string is a Java Matcher template: '$' is a
        # group reference and '\\' an escape, so a user-supplied name
        # like 'price$' would throw (or substitute captured text)
        # unless quoted
        tag = "[" + name.upper().replace("\\", "\\\\").replace("$", "\\$") + "]"
        redacted = F.regexp_replace(redacted, pat, tag)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        redacted.alias("redacted"),
        *[
            F.size(F.regexp_extract_all(text, F.lit(pat), 0))
            .cast("bigint")
            .alias(f"n_{name}")
            for name, pat in patterns.items()
        ],
    )


# candidate: 13-19 digits with optional single space/dash separators,
# \b-delimited so runs embedded in longer digit strings or
# alphanumerics never match.  Java-and-RE2 dialect subset (no
# lookarounds - RE2 has none), so the SQL oracle matches byte-for-byte.
CARD_CANDIDATE_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def _luhn_valid_sql(digits: str) -> str:
    """Spark-SQL boolean: ``digits`` (a separator-free digit string,
    already stripped — bind it ONCE via a struct field so the strip is
    not re-evaluated per digit) passes the Luhn mod-10 check.  Pure
    expression - sequence/transform/aggregate higher-order functions,
    digit doubling by position-from-right parity."""
    d = digits
    digit = f"(ascii(substr({d}, i, 1)) - 48)"
    contrib = (
        f"CASE WHEN (length({d}) - i) % 2 = 1 "
        f"THEN CASE WHEN 2 * {digit} > 9 THEN 2 * {digit} - 9 "
        f"ELSE 2 * {digit} END ELSE {digit} END"
    )
    total = (
        f"aggregate(sequence(1, length({d})), 0, (acc, i) -> acc + {contrib})"
    )
    return f"(length({d}) BETWEEN 13 AND 19 AND {total} % 10 = 0)"


def luhn_cards(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tag: str = "[CARD]",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Payment-card redaction with REAL validation: the regex alone
    over-fires on invoice numbers, tracking ids and timestamps, so each
    13-19-digit candidate (optional space/dash separators) must pass
    the Luhn mod-10 checksum before it is counted and redacted -- the
    standard card-number validity check, evaluated entirely as Spark
    SQL higher-order functions (sequence -> per-digit doubling ->
    aggregate), no Python.

    Output: ``id[, keep_cols], redacted, n_cards, n_candidates`` --
    ``n_cards`` counts Luhn-valid candidates (the redacted ones),
    ``n_candidates`` everything card-shaped, so ``n_candidates -
    n_cards`` is the false-positive pressure a plain-regex scrubber
    would have paid.  NULL text behaves like empty.

    Redaction folds ``replace(acc, candidate, tag)`` over the valid
    candidates: literal (non-regex) replacement, so a validated number
    is scrubbed EVERYWHERE it appears -- including a second occurrence
    inside a longer digit run that was itself rejected as a candidate
    (deliberate: leaking a card because it was quoted inside a wider
    string is worse than over-scrubbing).

    Zero shuffle: one map stage of whole-stage-codegen expressions
    pipelined into the scan, like :func:`redact_pii`; the Luhn
    aggregate is over <= 19 elements per candidate.  The candidate
    scan and the Luhn filter are STAGED into named intermediate
    columns so each is evaluated once per row, not re-inlined into
    every output column (the op_url_blocklist lesson, SCALE.md r09);
    the separator strip is bound once per candidate via a struct
    field, not re-evaluated per digit.  All constructs sit in the
    Java-and-RE2 / shared-SQL subset, so a DuckDB oracle reproduces
    every byte and count exactly.
    """
    if not tag:
        raise ValueError("luhn_cards: tag must be non-empty")
    clashes = [
        c for c in ("redacted", "n_cards", "n_candidates") if c in df.columns
    ]
    if clashes:
        # no keep_cols exemption: keeping a column under an output name
        # would emit duplicate column names, which poisons every
        # downstream by-name reference
        raise ValueError(
            f"luhn_cards: output column(s) {clashes} already exist on "
            "the input"
        )
    from .sampling import _fresh_name

    pat_sql = CARD_CANDIDATE_RE.replace("\\", "\\\\").replace("'", "''")
    tag_sql = tag.replace("\\", "\\\\").replace("'", "''")
    # stage the (possibly non-bare: spaces, dashes, quotes) input column
    # through F.col into a fresh bare identifier ONCE, so the f-string
    # SQL below never interpolates a user-controlled column name
    t = _fresh_name("__ltext", df.columns)
    df = df.withColumn(t, F.coalesce(F.col(text_col), F.lit("")))
    cands_col = _fresh_name("__cands", df.columns)
    valid_col = _fresh_name("__valid", df.columns)
    cands = f"regexp_extract_all({t}, '{pat_sql}', 0)"
    # bind the stripped digit string once per candidate (struct field),
    # then filter on it — the Luhn lambda references s.d up to ~19
    # times and must not re-strip each time
    valid = (
        f"transform(filter(transform({cands_col}, "
        f"c -> named_struct('c', c, 'd', replace(replace(c, ' ', ''), '-', ''))), "
        f"s -> {_luhn_valid_sql('s.d')}), s -> s.c)"
    )
    redacted = (
        f"aggregate({valid_col}, {t}, (acc, c) -> replace(acc, c, '{tag_sql}'))"
    )
    staged = df.withColumn(cands_col, F.expr(cands)).withColumn(
        valid_col, F.expr(valid)
    )
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.expr(redacted).alias("redacted"),
        F.expr(f"CAST(size({valid_col}) AS BIGINT)").alias("n_cards"),
        F.expr(f"CAST(size({cands_col}) AS BIGINT)").alias("n_candidates"),
    )


_BPE_SEP = "\x1f"

# GPT-2-style byte-level pretokenizer (the public gpt-2/src/encoder.py
# pattern; tiktoken lineage), minus the trailing-space negative
# lookahead: RE2 — the DuckDB oracle's regex engine — has no
# lookahead, so the cross-engine-exact variant lets a whitespace run
# group as ONE pretoken instead of donating its last space to the next
# word.  Deliberately identical in all three engines that execute it:
# whitespace is the EXPLICIT ASCII class [ \t\n\x0B\f\r] (Java's and
# RE2's default \s; spelled out because Python's regex.ASCII flag —
# the other way to pin \s — also ASCII-restricts \p{L}, silently
# splitting accented words), while \p{L}/\p{N} are Unicode general
# categories in all three (category tables can drift across engine
# Unicode versions for exotic recent code points — ASCII and
# established scripts are stable).
_BPE_WS_CLS = r" \t\n\x0B\f\r"
_BPE_BYTE_PAT = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^" + _BPE_WS_CLS + r"\p{L}\p{N}]+"
    r"|[" + _BPE_WS_CLS + r"]+"
)
_HEX_CHARS = frozenset("0123456789abcdef")
_BPE_MEMO_MAX = 1_000_000  # per-task word memo; a fat partition's task lives long

# ---------------------------------------------------------------------------
# The BPE core (Sennrich et al. 2016, arXiv:1508.07909).  Every operator
# of the family — bpe_pair_counts, train_bpe, bpe_encode, bpe_vocab,
# tokens_to_ids, tokenizer_fertility — and every engine path (Catalyst
# expressions, the memoized Python word pass, the DuckDB oracle) shares
# these semantics:
#
# - WORDS (`_bpe_words`): at word level, the normalized whitespace
#   tokens (lowered, split on Java's ASCII \s) with the reserved
#   `\x1f` symbol separator stripped and empties dropped; at byte
#   level, every `_BPE_BYTE_PAT` pretoken (case preserved, whitespace
#   runs included, so tokens concatenate back to the exact text).
#   NULL text behaves like empty: zero words.
# - SYMBOLS (`_bpe_syms` / `_bpe_syms_col`): a word starts as its
#   characters plus `end_marker` (None: no marker), or at byte level as
#   its UTF-8 bytes in lowercase hex, two chars per byte (the
#   engine-portable analogue of GPT-2's bytes_to_unicode; merged
#   symbols are longer hex strings) with no marker.
# - MERGES (`_bpe_merge` / `_bpe_merge_fold`): the rules apply IN
#   ORDER, each as one greedy left-to-right pass over WHOLE symbols, so
#   a rule never fires inside a previously merged symbol.  Sequential
#   application is the only well-defined semantic for arbitrary merge
#   tables: the rank-based shortcut of serving tokenizers assumes each
#   rule's symbols were created by earlier rules.
# - UNITS: a document's tokens are its words' symbol runs in order;
#   `n_words` counts words (pretokens) and `n_chars` their characters
#   (bytes at byte level).
# ---------------------------------------------------------------------------


def _bpe_words(text: Column, byte_level: bool) -> Column:
    """The ``array<string>`` of a document's BPE words.  Word level
    strips ``\\x1f`` from the lowered text before tokenizing: the same
    list as stripping each token and dropping the emptied ones (the
    second ``lower`` is a no-op on lowered text — it keeps case
    mapping ahead of the strip, as on the tokens)."""
    text = F.coalesce(text, F.lit(""))
    if byte_level:
        # every alternative of the pattern consumes a character, so no
        # match is empty
        return F.regexp_extract_all(text, F.lit(_BPE_BYTE_PAT), F.lit(0))
    return normalized_tokens(F.translate(F.lower(text), _BPE_SEP, ""))


def _bpe_word_counts(
    df: DataFrame, text_col: str, min_count: int, byte_level: bool
) -> DataFrame:
    """Distributed corpus -> bounded ``(word, __n)`` count table: the
    ONE pass over the full corpus in BPE training (everything after
    operates on distinct words)."""
    words = ensure_parallelism(df).select(
        F.explode(_bpe_words(F.col(text_col), byte_level)).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("__n"))
    if min_count > 1:
        wc = wc.where(F.col("__n") >= min_count)
    return wc


def _bpe_syms_col(w: Column, end_marker, byte_level: bool) -> Column:
    """Initial ``array<string>`` symbols of word column ``w``.  Byte
    level rebuilds the hex stream as ``lower(hex(encode(w)))`` — the
    same bytes in every engine (decode a token with
    ``decode(unhex(t), 'utf-8')`` once it is code-point aligned)."""
    if byte_level:
        h = F.lower(F.hex(F.encode(w, "UTF-8")))
        n = (F.length(h) / F.lit(2)).cast("int")
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: h.substr(i * F.lit(2) - F.lit(1), F.lit(2)),
        )
    chars = F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )
    if end_marker is None:
        return chars
    return F.concat(chars, F.array(F.lit(end_marker)))


def _bpe_syms(word: str, end_marker, byte_level: bool) -> list[str]:
    """:func:`_bpe_syms_col` for one Python string."""
    if byte_level:
        h = word.encode("utf-8").hex()
        return [h[i : i + 2] for i in range(0, len(h), 2)]
    return list(word) + ([end_marker] if end_marker is not None else [])


def _bpe_merge(syms: list, a: str, b: str) -> None:
    """Apply ONE rule (a, b) to ``syms`` in place: the greedy
    left-to-right whole-symbol pass."""
    if a not in syms:  # C-speed prune before the Python scan
        return
    i = 0
    while i < len(syms) - 1:
        if syms[i] == a and syms[i + 1] == b:
            syms[i : i + 2] = [a + b]
        else:
            i += 1


def _bpe_validate(
    fn: str, merges, end_marker, byte_level: bool, min_count: int = 1
) -> list[tuple]:
    """Check the family's shared arguments and return the merges as
    tuples; errors name the public function ``fn``.  Byte level has no
    word-end marker (pretokens carry their boundaries) and takes only
    byte-aligned lowercase-hex symbols; it needs ``end_marker=None``
    passed explicitly, so a word-level call site that flips
    ``byte_level=True`` cannot silently keep its marker."""
    if byte_level and end_marker is not None:
        raise ValueError(
            f"{fn}: byte-level BPE has no word-end marker (pretokens "
            "carry their own boundaries) — pass end_marker=None"
        )
    if end_marker is not None and (not end_marker or _BPE_SEP in end_marker):
        raise ValueError(f"{fn}: end_marker must be non-empty without \\x1f")
    if min_count < 1:
        raise ValueError(f"{fn}: min_count must be >= 1, got {min_count}")
    merges = [tuple(m) for m in (merges or [])]
    for m in merges:
        if len(m) == 2 and m[0] and m[1] and (
            not (len(m[0]) % 2 or len(m[1]) % 2)
            and set(m[0] + m[1]) <= _HEX_CHARS
            if byte_level
            else _BPE_SEP not in m[0] + m[1]
        ):
            continue
        if byte_level:
            raise ValueError(
                f"{fn}: byte-level merges must be (left, right) pairs "
                f"of non-empty even-length lowercase-hex byte strings, "
                f"got {m!r} — was this table trained with "
                "byte_level=False?"
            )
        raise ValueError(
            f"{fn}: each merge must be a (left, right) pair of "
            f"non-empty symbols without \\x1f, got {m!r}"
        )
    return merges


def _bpe_merge_fold(parts, a: str, b: str):
    """:func:`_bpe_merge` as a Catalyst expression over a symbol array,
    returning the merged ``\\x1f``-joined string.

    The fold's acc is the joined-so-far string; a step merges iff the
    incoming symbol equals ``b`` AND acc's LAST WHOLE symbol equals
    ``a`` — checked as ``acc == a`` (first symbol) or a
    separator-anchored suffix match (symbols never contain the
    separator, so ``…␟a`` at the end identifies the full last symbol;
    out-of-range substr starts can never produce a ␟-prefixed string,
    so no false positives).  A flat string ``replace`` would be wrong:
    after (a,b) creates "ab", rule (b,c) must NOT fire inside "ab␟c".
    DuckDB's ``list_reduce`` reproduces this exactly: its implicit
    first-element init IS this fold's init."""
    la = F.length(F.lit(a))
    sep_a = F.lit(_BPE_SEP + a)

    def step(acc, x):
        last_is_a = (acc == F.lit(a)) | (
            acc.substr(F.length(acc) - la, la + F.lit(1)) == sep_a
        )
        merged = F.concat(
            acc.substr(F.lit(1), F.length(acc) - la), F.lit(a + b)
        )
        return F.when((x == F.lit(b)) & last_is_a, merged).otherwise(
            F.concat(acc, F.lit(_BPE_SEP), x)
        )

    rest = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
    return F.aggregate(rest, F.element_at(parts, 1), step)


def _bpe_unk(token: str, unk):
    """The out-of-vocabulary rule of :func:`tokens_to_ids`: map to
    ``unk`` or fail loudly."""
    if unk is None:
        raise ValueError(
            f"tokens_to_ids: token {token!r} not in vocab and no unk_id given"
        )
    return unk


def _bpe_python(
    src: DataFrame,
    merges: list,
    text_col: str,
    end_marker,
    byte_level: bool,
    cols: list[str],
    out_col: str = "tokens",
    vmap: dict | None = None,
    unk: int | None = None,
) -> DataFrame:
    """The Python word pass: ONE ``mapInPandas`` over ``src`` with the
    merge table in the closure and a bounded per-task memo, so the
    merge loop runs once per DISTINCT word per task (natural language
    hits the memo at its type-token ratio).  Zero shuffle, Arrow
    batched and stateless, so it runs unchanged on a streaming frame.

    Output columns are ``cols`` in order: ``out_col`` is each
    document's token array, or with a vocabulary map ``vmap`` its
    ``array<int>`` ids (the memo then holds word -> ids, so token
    strings never cross back to the JVM; OOV per :func:`_bpe_unk`); a
    column of ``src`` passes through; ``n_tokens``/``n_words``/
    ``n_chars`` are computed."""
    from pyspark.sql import types as T

    if byte_level:
        try:
            import regex
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "bpe_encode(byte_level=True, method='python') needs the "
                "'regex' module for \\p{L}-class parity with the Spark/"
                "DuckDB pretokenizer — install it or use method='expr'"
            ) from e
        # NO flags: the pattern spells whitespace as an explicit ASCII
        # class (regex.ASCII would also ASCII-restrict \p{L})
        pre = regex.compile(_BPE_BYTE_PAT)
    else:
        import re

        pre = re.compile(r"\S+", re.ASCII)  # Java \s is ASCII-only
    nchars = (lambda w: len(w.encode("utf-8"))) if byte_level else len
    made = [
        c for c in cols
        if c == out_col
        or (c in ("n_tokens", "n_words", "n_chars") and c not in src.columns)
    ]
    passed = [c for c in cols if c not in made]
    sel = ensure_parallelism(src.select(*dict.fromkeys([*passed, text_col])))

    def batches(it):
        memo: dict = {}

        def enc(word):
            t = memo.get(word)
            if t is None:
                if len(memo) >= _BPE_MEMO_MAX:
                    memo.clear()
                t = _bpe_syms(word, end_marker, byte_level)
                for a, b in merges:
                    _bpe_merge(t, a, b)
                if vmap is not None:
                    t = [vmap[s] if s in vmap else _bpe_unk(s, unk) for s in t]
                memo[word] = t
            return t

        for pdf in it:
            texts = pdf[text_col].fillna("")
            if byte_level:
                # a regex-module pattern is not an re.Pattern: per row
                wls = [pre.findall(s) for s in texts]
            else:
                # lower, then strip \x1f, then split: see _bpe_words
                wls = texts.str.lower().str.replace(
                    _BPE_SEP, "", regex=False
                ).str.findall(pre)
            seqs = []
            for wl in wls:
                out: list = []
                for w in wl:
                    out.extend(enc(w))
                seqs.append(out)
            values = {
                out_col: lambda: seqs,
                "n_tokens": lambda: [len(s) for s in seqs],
                "n_words": lambda: [len(wl) for wl in wls],
                "n_chars": lambda: [sum(map(nchars, wl)) for wl in wls],
            }
            res = pdf[passed].copy()
            for c in made:
                res[c] = values[c]()
            yield res[cols]

    fields = {f.name: f for f in sel.schema.fields}
    out_type = T.ArrayType(T.IntegerType() if vmap is not None else T.StringType())
    schema = T.StructType(
        [
            fields[c] if c in passed
            else T.StructField(c, out_type if c == out_col else T.LongType())
            for c in cols
        ]
    )
    return sel.mapInPandas(batches, schema)


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    merges: list | None = None,
    end_marker: str | None = "</w>",
    min_count: int = 1,
    byte_level: bool = False,
) -> DataFrame:
    """One iteration of BPE tokenizer training: adjacent-symbol pair
    frequencies over the corpus word table, AFTER applying the
    ``merges`` learned so far (see the BPE core above).  The argmax
    pair of each call is the next merge rule; iterating this is the
    whole trainer (:func:`train_bpe` wraps the loop).  ``end_marker``
    keeps merges from crossing words; pass ``None`` to disable.  Each
    rule is the :func:`_bpe_merge_fold` expression, the same greedy
    pass as :func:`train_bpe`'s Python loop and DuckDB's
    ``list_reduce`` — the whole iteration is engine-exact.

    Output: ``sym_left, sym_right, pair_count`` (BIGINT; a pair
    repeated inside one word counts once per occurrence, weighted by
    the word's corpus frequency).

    Scale shape: ONE pass over the corpus (explode -> map-side-combined
    word count, one shuffle on uniform word keys); everything after —
    symbol split, merge replays, pair explode, pair count — runs on the
    BOUNDED distinct-word table (tiny vs the corpus), so 100 iterations
    cost 100 passes over the word table, not the corpus.  Re-invoke on
    a persisted/written word table upstream if ``df``'s lineage is
    expensive (the module's :func:`temperature_weights` discipline).
    Expression depth grows linearly with ``len(merges)`` (one fold
    layer per rule) — fine for auditing tens of merges; a full trainer
    should use :func:`train_bpe`'s driver loop, which collects the
    word table once and never builds these expressions.

    ``byte_level=True`` counts GPT-2-style byte-level pairs (pass
    ``end_marker=None`` explicitly); only the word table and the
    symbol init change.
    """
    merges = _bpe_validate(
        "bpe_pair_counts", merges, end_marker, byte_level, min_count
    )
    wc = _bpe_word_counts(df, text_col, min_count, byte_level)
    # STAGE each merge layer into a named column: the fold references
    # its input array ~3x (slice/element_at/size), so inlining would
    # duplicate the previous layer's tree 3x per rule — exponential in
    # len(merges) (measured: 8 inlined layers cost minutes of
    # analysis/codegen; staged, milliseconds).  Same lesson as
    # luhn_cards / op_url_blocklist.
    syms_col = "__syms"
    while syms_col in wc.columns:
        syms_col = "_" + syms_col
    wc = wc.withColumn(
        syms_col, _bpe_syms_col(F.col("word"), end_marker, byte_level)
    )
    for a, b in merges:
        wc = wc.withColumn(
            syms_col,
            F.split(_bpe_merge_fold(F.col(syms_col), a, b), _BPE_SEP),
        )
    parts = F.col(syms_col)
    # guard: Spark sequence(1, 0) is a DESCENDING [1, 0], not empty —
    # a single-symbol word (end_marker=None, fully-merged word) must
    # yield zero pairs, not an element_at(0) error
    idxs = F.when(
        F.size(parts) >= 2, F.sequence(F.lit(1), F.size(parts) - 1)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    pair = F.explode(
        F.transform(
            idxs,
            lambda i: F.struct(
                F.element_at(parts, i).alias("l"),
                F.element_at(parts, i + 1).alias("r"),
            ),
        )
    )
    return (
        wc.select(F.col("__n"), pair.alias("p"))
        .groupBy(
            F.col("p.l").alias("sym_left"), F.col("p.r").alias("sym_right")
        )
        .agg(F.sum("__n").cast("long").alias("pair_count"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    end_marker: str | None = "</w>",
    min_count: int = 1,
    max_words: int = 5_000_000,
    byte_level: bool = False,
) -> list[tuple[str, str]]:
    """Full BPE merge-table training: the distributed part is the ONE
    corpus pass that reduces 100 TB of text to the bounded distinct
    word-count table; the merge loop then runs driver-side over that
    table (the paper's algorithm is inherently sequential in the merge
    ordering — each rule depends on the previous — and the word table
    is the classic driver-bounded artifact, like
    :func:`temperature_weights`' size table).  ``max_words`` fails fast
    if the vocabulary is unexpectedly unbounded (raise it only when the
    driver genuinely has the memory; use ``min_count`` to cut the
    long tail first — frequency-1 words rarely influence merges).

    Deterministic: ties on pair count break by lexicographic
    ``(left, right)``, so the merge table is a pure function of the
    corpus.  Each iteration's pair counts are bit-identical to
    ``bpe_pair_counts(df, merges=<learned so far>)`` (pinned by test).

    Returns the ordered merge list — feed it back to
    :func:`bpe_pair_counts` (or an external tokenizer) as ``merges``.
    ``byte_level=True`` learns hex byte-level merges for
    ``bpe_encode(..., byte_level=True)``; it requires
    ``end_marker=None`` explicitly.
    """
    _bpe_validate("train_bpe", None, end_marker, byte_level, min_count)
    if n_merges < 0:
        raise ValueError(f"train_bpe: n_merges must be >= 0, got {n_merges}")
    wc = _bpe_word_counts(df, text_col, min_count, byte_level)
    rows = wc.limit(max_words + 1).collect()
    if len(rows) > max_words:
        raise ValueError(
            f"train_bpe: more than {max_words} distinct words — raise "
            "max_words or min_count"
        )
    words = [
        (_bpe_syms(r["word"], end_marker, byte_level), r["__n"]) for r in rows
    ]
    # incremental trainer (the textbook structure): global pair counts
    # plus a pair -> word-index inverted index, built once; each merge
    # touches ONLY the words that contain the merged pair, subtracting
    # their old adjacent pairs and adding the new ones.  A from-scratch
    # recount per iteration is O(total symbols) per merge — days for a
    # real vocab run; this is O(affected words) per merge.
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, n) in enumerate(words):
        for k in zip(syms, syms[1:]):
            counts[k] = counts.get(k, 0) + n
            where.setdefault(k, set()).add(idx)
    out: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append(best)
        for idx in sorted(where.get(best, ())):
            syms, n = words[idx]
            old = list(zip(syms, syms[1:]))
            _bpe_merge(syms, *best)
            new = list(zip(syms, syms[1:]))
            for k in old:
                c = counts[k] - n
                if c:
                    counts[k] = c
                else:
                    del counts[k]
                    where.pop(k, None)
            for k in new:
                counts[k] = counts.get(k, 0) + n
                where.setdefault(k, set()).add(idx)
            for k in set(old) - set(new):
                s = where.get(k)
                if s is not None:
                    s.discard(idx)
                    if not s:
                        del where[k]
    return out


def bpe_encode(
    df: DataFrame,
    merges: list | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
    end_marker: str | None = "</w>",
    method: str = "auto",
    max_expr_merges: int = 64,
    with_counts: bool = False,
    byte_level: bool = False,
) -> DataFrame:
    """Apply a TRAINED merge table to the corpus — the inference half
    of the BPE tokenizer (:func:`train_bpe` learns the merges; this
    tokenizes with them, per the BPE core above), emitting
    per-document token arrays and exact token counts so downstream
    layout (``pack_shards`` / ``corpus_offsets`` /
    ``temperature_weights``) budgets on REAL tokenizer tokens instead
    of whitespace counts.

    Output: ``id[, keep_cols], tokens array<string>, n_tokens bigint``
    — plus, with ``with_counts=True``, ``n_words bigint, n_chars
    bigint`` (post-normalization, pre-``end_marker``; pretokens and
    bytes at byte level): free byproducts that make
    tokenizer-fertility reporting (:func:`tokenizer_fertility`) a
    single aggregate over this output.  They are opt-in because corpus
    schemas commonly carry their own ``n_chars`` (the testdata
    ``documents`` table does) and the clash check below would
    otherwise reject them.

    Two engine paths, bit-identical (pinned by test):

    - ``method="expr"`` — pure Catalyst expressions, one merge-fold
      layer per rule staged into a named column (the
      :func:`bpe_pair_counts` lesson: inlining re-evaluates each layer
      ~3x per reference and goes exponential).  Whole plan is ONE
      zero-shuffle map stage pipelined into the scan, and a SQL oracle
      (DuckDB ``list_transform`` + ``list_reduce``) replays every
      byte.  Expression depth is linear in ``len(merges)`` — capped at
      ``max_expr_merges`` with a loud error.
    - ``method="python"`` — the real-vocabulary scale path: the
      memoized :func:`_bpe_python` word pass, which a directly composed
      :func:`tokens_to_ids` fuses its id lookup into.

    ``method="auto"`` picks ``python`` — MEASURED, not assumed: at
    sf0.1 with 5 rules the memoized path runs ~10x faster than the
    expression fold (0.5s vs 5.1s, SCALE.md r11), because higher-order
    functions evaluate interpreted per word OCCURRENCE while the memo
    pays the merge loop once per DISTINCT word; the gap only widens
    with more rules.  Choose ``expr`` explicitly when the Python
    worker boundary itself is the constraint (pure-JVM deployments,
    or fusing into a surrounding codegen-only pipeline).

    Scale shape: both paths are single map stages over the corpus —
    no shuffle, no driver data path; 100 TB tokenizes embarrassingly
    parallel.  The memo makes the python path's cost roughly
    O(distinct words x merges) per task, not O(corpus tokens x
    merges).

    ``byte_level=True`` (GPT-2-style) needs ``end_marker=None`` and
    has no OOV by construction; its python path needs the ``regex``
    module for ``\\p{L}``-class parity with Spark/DuckDB — absent
    that, use ``method='expr'``.
    """
    merges = _bpe_validate("bpe_encode", merges, end_marker, byte_level)
    if method not in ("auto", "expr", "python"):
        raise ValueError(
            f"bpe_encode: method must be auto|expr|python, got {method!r}"
        )
    out_cols = ["tokens", "n_tokens"] + (
        ["n_words", "n_chars"] if with_counts else []
    )
    clashes = [c for c in out_cols if c in df.columns]
    if clashes:
        raise ValueError(
            f"bpe_encode: output column(s) {clashes} already exist on "
            "the input"
        )
    keep = list(keep_cols or [])
    if method == "expr" and len(merges) > max_expr_merges:
        raise ValueError(
            f"bpe_encode: {len(merges)} merges exceeds max_expr_merges="
            f"{max_expr_merges} — use method='python' for real merge "
            "tables (expression depth is linear in rules and analysis "
            "cost follows)"
        )
    if method == "expr":
        return _bpe_encode_expr(
            df, merges, text_col, id_col, keep, end_marker, with_counts,
            byte_level,
        )
    args = dict(
        src=df, merges=merges, text_col=text_col, end_marker=end_marker,
        byte_level=byte_level, cols=[id_col, *keep, *out_cols],
    )
    out = _bpe_python(**args)
    # Fusion hook for tokens_to_ids (the _aq_vocab_rows precedent): the
    # arguments of this pass, so a DIRECTLY-composed tokens_to_ids can
    # rerun it with the id mapping folded in.  Plain Python attribute —
    # it dies with this DataFrame object (any select/filter returns a
    # fresh frame without it), so the fusion only ever fires on the
    # unmodified encode output, where it is provably equivalent.
    out._aq_bpe_fuse = args
    return out


def _bpe_encode_expr(
    df, merges, text_col, id_col, keep, end_marker, with_counts, byte_level
):
    from .sampling import _fresh_name

    def merge_layer(a, b):
        # closure factory, not lambda default-args: pyspark's transform
        # inspects lambda arity and rejects extra parameters
        return lambda w: _bpe_merge_fold(F.split(w, _BPE_SEP), a, b)

    # stage the clean word array ONCE: the merge chain, the word count
    # and the char count all read it without re-running the tokenize
    warr = _fresh_name("__bpe_warr", df.columns)
    wcol = _fresh_name("__bpe_ws", df.columns)
    staged = (
        ensure_parallelism(df)
        .withColumn(warr, _bpe_words(F.col(text_col), byte_level))
        .withColumn(
            wcol,
            F.transform(
                F.col(warr),
                lambda w: F.array_join(
                    _bpe_syms_col(w, end_marker, byte_level), _BPE_SEP
                ),
            ),
        )
    )
    for a, b in merges:
        staged = staged.withColumn(
            wcol, F.transform(F.col(wcol), merge_layer(a, b))
        )
    tokens = F.flatten(
        F.transform(F.col(wcol), lambda w: F.split(w, _BPE_SEP))
    )
    _len = F.octet_length if byte_level else F.length
    counts = (
        [
            F.size(F.col(warr)).cast("bigint").alias("n_words"),
            F.aggregate(
                F.col(warr),
                F.lit(0).cast("bigint"),
                lambda acc, w: acc + _len(w).cast("bigint"),
            ).alias("n_chars"),
        ]
        if with_counts
        else []
    )
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        tokens.alias("tokens"),
        F.size(tokens).cast("bigint").alias("n_tokens"),
        *counts,
    )


def bpe_vocab(
    df: DataFrame,
    merges: list | None = None,
    text_col: str = "text",
    end_marker: str | None = "</w>",
    max_alphabet: int = 1_000_000,
    byte_level: bool = False,
) -> DataFrame:
    """The vocabulary a merge table induces over a corpus: ``(token,
    token_id)`` with the ALPHABET first (the distinct characters of the
    corpus word table, plus ``end_marker``, sorted by code point — the
    binary collation Spark and DuckDB share) and then each merge's
    product in merge order, first occurrence winning on duplicates —
    the classic BPE id assignment (Sennrich et al. 2016 §3: vocabulary
    = characters + one symbol per merge).

    The distributed part is the ONE pass that reduces the corpus to
    distinct characters; the id assignment itself is a pure driver
    fold over ``merges`` (already a driver list).  ``max_alphabet``
    fails fast on byte-garbage corpora whose "alphabet" is unbounded —
    Unicode itself caps at ~1.1M code points, real corpora sit in the
    thousands.

    The alphabet deliberately takes NO ``min_count``-style frequency
    cut (the trainer's ``min_count`` trims which WORDS drive merge
    learning, never which characters exist): a rare character's word
    still tokenizes through :func:`bpe_encode`, so dropping its
    character from the vocab would make :func:`tokens_to_ids` raise
    OOV on the very corpus the vocab was built from.

    Feed the result to :func:`tokens_to_ids` to turn
    :func:`bpe_encode`'s token arrays into id sequences.

    ``byte_level=True``: the alphabet is the FIXED full byte range —
    256 hex symbols ``00..ff`` in byte order — with NO corpus pass at
    all (every string decomposes into known symbols, so there is no
    OOV and the vocab does not depend on the corpus); ids follow
    GPT-2's layout.  Requires ``end_marker=None``.
    """
    merges = _bpe_validate("bpe_vocab", merges, end_marker, byte_level)
    if byte_level:
        alpha = [f"{i:02x}" for i in range(256)]
    else:
        # distinct characters straight off the documents — grouping
        # words first cannot change the character set, so the
        # word-count groupBy (a corpus-wide distinct-word exchange)
        # buys nothing here (r10: measured 2.6s -> 0.6s at sf0.1 for a
        # 24-char alphabet).  The word-table character set equals the
        # non-whitespace, non-\x1f characters of the lowered text, so
        # ONE native regexp pass per document replaces the interpreted
        # per-character transform/substr HOF chain (r10: 2.9s -> 0.4s
        # at sf0.1).  Java regex matches whole code points, so astral
        # characters survive intact.  array_distinct per document keeps
        # the exploded row volume at docs x alphabet, and the final
        # .distinct() partial-aggregates map-side, so the one shuffle
        # carries at most (partitions x alphabet) rows.
        doc_chars = ensure_parallelism(df).select(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    F.lit("[^\\s\\x1f]"),
                    F.lit(0),
                )
            ).alias("__chs")
        )
        rows = (
            doc_chars.select(F.explode("__chs").alias("ch"))
            .where(F.length("ch") > 0)
            .distinct()
            .limit(max_alphabet + 1)
            .collect()
        )
        if len(rows) > max_alphabet:
            raise ValueError(
                f"bpe_vocab: more than {max_alphabet} distinct characters "
                "— this is not text; raise max_alphabet only if it truly is"
            )
        alpha = sorted(
            {r["ch"] for r in rows}
            | ({end_marker} if end_marker is not None else set())
        )
    vocab = list(dict.fromkeys(alpha + [a + b for a, b in merges]))
    return _vocab_df(df.sparkSession, vocab)


def _vocab_df(spark, vocab: list) -> DataFrame:
    """(token, token_id) DataFrame for a driver-held vocabulary list.

    The rows are also stashed on the DataFrame object
    (``_aq_vocab_rows``) so :func:`tokens_to_ids` can skip the
    collect() round-trip for a vocab the driver just built — the
    attribute is data the frame already contains, never a cached query
    result, and it dies with the DataFrame object (any select/filter
    returns a fresh frame without it).  ``coalesce(1)``: thirty-ish
    rows do not need defaultParallelism partitions, and a single
    partition makes the broadcast/collect path one task.
    """
    rows = [(t, i) for i, t in enumerate(vocab)]
    vdf = spark.createDataFrame(
        rows, "token string, token_id int"
    ).coalesce(1)
    vdf._aq_vocab_rows = rows
    return vdf


def tokens_to_ids(
    df: DataFrame,
    vocab: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
    out_col: str = "token_ids",
    unk_id: int | None = None,
    method: str = "auto",
    max_vocab: int = 5_000_000,
) -> DataFrame:
    """Map per-document token arrays to id sequences through a
    ``(token, token_id)`` vocabulary — the final step of the tokenizer
    chain (:func:`train_bpe` learns merges, :func:`bpe_encode` emits
    token arrays, :func:`bpe_vocab` assigns ids, this materializes the
    id sequences a trainer's data loader actually reads).

    Out-of-vocabulary tokens RAISE by default (a vocab derived from
    the same corpus+merges covers every token by construction, so an
    OOV means mismatched artifacts — fail loudly); pass ``unk_id`` to
    map them instead (the <unk> convention for fresh data whose
    characters the training corpus never saw).

    Two paths, bit-identical (pinned by test):

    - ``method="udf"`` (the ``auto`` choice) — the vocabulary is
      driver-bounded BY CONSTRUCTION (alphabet + one entry per merge),
      so it rides the task closure as a dict and the whole operator is
      ONE zero-shuffle Arrow pass, O(1) lookups per token.  The
      explode/join alternative shuffles the corpus's entire token
      stream to reassemble sequences — strictly worse at any scale
      while the vocab fits memory (every real vocab does;
      ``max_vocab`` guards the pathological case).  On the unmodified
      output of ``bpe_encode(method='python')`` the lookup fuses into
      that encode pass (see below).
    - ``method="join"`` — pure-JVM engine-portable form: posexplode ->
      broadcast join -> ordered re-collect (ONE shuffle on the doc
      id).  This is also the relational form the DuckDB oracle
      replays, which is how the udf path's correctness is
      cross-engine-checked despite being Python.  Because it KEYS
      sequences on ``id_col``, this path requires unique non-NULL ids
      and raises otherwise (a NULL key would silently drop the doc's
      tokens, duplicate keys would merge two docs' sequences); the udf
      path is row-local and has no id contract — the paths are
      bit-identical exactly on the join path's domain.

    Output: ``id[, keep_cols], <out_col> array<int>`` — empty/NULL
    token arrays yield empty id arrays (the row is never lost).
    """
    if method not in ("auto", "udf", "join"):
        raise ValueError(
            f"tokens_to_ids: method must be auto|udf|join, got {method!r}"
        )
    for c in ("token", "token_id"):
        if c not in vocab.columns:
            raise ValueError(
                f"tokens_to_ids: vocab is missing column {c!r} — expected "
                "the (token, token_id) relation bpe_vocab produces"
            )
    if out_col in df.columns:
        raise ValueError(
            f"tokens_to_ids: output column {out_col!r} already exists on "
            "the input"
        )
    keep = list(keep_cols or [])
    if method != "join":
        # a vocab bpe_vocab just built: the driver already holds its
        # rows, and a collect() would round-trip them through the JVM
        # for nothing (measured 1.8s of fixed job overhead at 32 cores)
        rows = getattr(vocab, "_aq_vocab_rows", None)
        if rows is None:
            rows = (
                vocab.select("token", "token_id").limit(max_vocab + 1).collect()
            )
        if len(rows) > max_vocab:
            raise ValueError(
                f"tokens_to_ids: vocab exceeds max_vocab={max_vocab}"
                " — use method='join' or raise the cap"
            )
        vmap = dict(rows)
        unk = unk_id

        # Operator fusion: when ``df`` is the UNMODIFIED output of
        # bpe_encode(method='python'), rerun its word pass with the id
        # mapping folded in.  The composed form ships the entire token
        # stream JVM -> Python -> JVM -> Python (MapInPandas then
        # ArrowEvalPython, each crossing carrying every token as a
        # string); the fused pass crosses ONCE and returns int arrays
        # (r10: 1.4s -> 0.8s at sf0.1).  Bit-equal by construction:
        # same word pass, same vocab dict, same OOV rule.  It serves the
        # columns the encode output offers, minus 'tokens' itself.
        # NEVER on a persisted frame: persist()/cache() returns self,
        # so the hook survives — and the fused pass would silently
        # RE-EXECUTE the encode from the pre-encode source instead of
        # reading the cached tokens (wasted work, and under a
        # nondeterministic source the ids could disagree with the
        # cached tokens the caller separately consumes).
        fuse = getattr(df, "_aq_bpe_fuse", None)
        if (
            fuse is not None
            and not df.is_cached
            and tokens_col == "tokens"
            and all(c in fuse["cols"] and c != "tokens" for c in [id_col, *keep])
        ):
            return _bpe_python(
                **{**fuse, "cols": [id_col, *keep, out_col]},
                out_col=out_col,
                vmap=vmap,
                unk=unk,
            )

        from pyspark.sql.functions import pandas_udf

        import pandas as pd

        def _to_ids(toks):
            out = []
            for ts in toks:
                row = []
                for t in ts if ts is not None else ():
                    i = vmap.get(t)
                    row.append(_bpe_unk(t, unk) if i is None else i)
                out.append(row)
            return pd.Series(out)

        to_ids = pandas_udf(_to_ids, "array<int>")
        return df.select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            to_ids(F.col(tokens_col)).alias(out_col),
        )
    # join path: posexplode -> broadcast vocab join -> ordered re-collect
    from .sampling import _fresh_name

    pos_c = _fresh_name("__tid_pos", df.columns)
    tok_c = _fresh_name("__tid_tok", df.columns)
    # this path keys sequences on id_col — validate unique non-NULL ids
    # loudly (guard folded into one CASE filter: separate assert filters
    # are reorderable — the weighted_sample lesson).  The id-count
    # window shuffles on the same key as the re-collect groupBy below,
    # so the exchange is shared, not doubled.
    cnt_c = _fresh_name("__tid_n", df.columns)
    df = (
        df.withColumn(cnt_c, F.count("*").over(Window.partitionBy(id_col)))
        .filter(
            F.when(
                F.col(id_col).isNull() | (F.col(cnt_c) > 1),
                F.raise_error(
                    F.lit(
                        "tokens_to_ids(method='join'): ids must be unique "
                        "and non-NULL — the relational form keys sequences "
                        "on the id (a NULL key silently drops the doc's "
                        "tokens, duplicates merge sequences); re-key the "
                        "input or use method='udf'"
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .drop(cnt_c)
    )
    base = df.select(F.col(id_col), *[F.col(c) for c in keep])
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.coalesce(F.col(tokens_col), F.array())).alias(
            pos_c, tok_c
        ),
    )
    v = F.broadcast(
        vocab.select(
            F.col("token").alias(tok_c), F.col("token_id").alias("__tid_id")
        )
    )
    joined = ex.join(v, tok_c, "left")
    mapped = F.coalesce(
        F.col("__tid_id"),
        F.lit(unk_id).cast("int")
        if unk_id is not None
        else F.raise_error(
            F.concat(
                F.lit("tokens_to_ids: token '"),
                F.col(tok_c),
                F.lit("' not in vocab and no unk_id given"),
            )
        ).cast("int"),
    )
    agg = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col(pos_c).alias("p"), mapped.alias("i")))
            ),
            lambda s: s["i"],
        ).alias(out_col)
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.coalesce(
            F.col(out_col), F.expr("CAST(array() AS array<int>)")
        ).alias(out_col),
    )


def tokenizer_fertility(
    df: DataFrame,
    merges: list | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    end_marker: str | None = "</w>",
    method: str = "auto",
    byte_level: bool = False,
) -> DataFrame:
    """Tokenizer fertility report: how many BPE tokens the merge table
    spends per word and how many characters each token carries —
    the standard metric for judging whether a tokenizer fits a corpus
    (fertility near 1 = most words are single tokens; high fertility
    on a language means the vocabulary underserves it).  Group by
    language (``group_col``) to see exactly that skew.

    Output: ``[group_col,] n_docs, ws_tokens, bpe_tokens, n_chars``
    (all BIGINT; ``ws_tokens`` is BPE's word count and ``n_chars``
    its word characters — pretokens and bytes at byte level, see the
    BPE core above) plus ``fertility = bpe_tokens/ws_tokens`` and
    ``chars_per_token = n_chars/bpe_tokens`` (DOUBLE, 6dp, NULL when
    the denominator is 0).  The ratios are single divisions of exact
    integer sums — engine-exact like the tf-idf/dup-weight gates.
    Comparing a word-level and a byte-level table side by side is the
    tokenizer-selection readout (the tokenizer_fit example does).

    Scale shape: :func:`bpe_encode`'s zero-shuffle map stage plus ONE
    map-side-combined aggregate on the (bounded) group key.
    """
    keys = [group_col] if group_col else []
    # project to exactly what the report needs BEFORE encoding: column
    # pruning for the scan, and the corpus's own n_words/n_chars-style
    # columns can never clash with the count outputs
    enc = bpe_encode(
        df.select(*dict.fromkeys([id_col, *keys, text_col])),
        merges,
        text_col=text_col,
        id_col=id_col,
        keep_cols=keys,
        end_marker=end_marker,
        method=method,
        with_counts=True,
        byte_level=byte_level,
    )
    agg = enc.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("ws_tokens"),
        F.sum("n_tokens").cast("bigint").alias("bpe_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    return agg.select(
        *keys,
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        F.when(
            F.col("ws_tokens") > 0,
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 6),
        ).alias("fertility"),
        F.when(
            F.col("bpe_tokens") > 0,
            F.round(F.col("n_chars") / F.col("bpe_tokens"), 6),
        ).alias("chars_per_token"),
    )


def strip_markup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """C4-style markup cleanup before quality filtering: drop
    script/style blocks and HTML comments, strip remaining tags,
    unescape the common entities, and collapse whitespace runs.

    Output: ``id[, keep_cols], cleaned, n_tags`` (tag count measured on
    the original text).

    Zero shuffle: the whole chain is ``regexp_replace``/``replace``
    whole-stage codegen pipelined into the scan — cleaning 100 TB of
    crawl HTML is one map stage. Patterns stay inside the Java∩RE2
    dialect subset (inline ``(?is)`` flags, non-greedy ``.*?``,
    character classes) so a SQL oracle reproduces every byte.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))  # NULL behaves like empty
    cleaned = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    cleaned = F.regexp_replace(cleaned, r"(?is)<style[^>]*>.*?</style>", " ")
    cleaned = F.regexp_replace(cleaned, r"(?s)<!--.*?-->", " ")
    cleaned = F.regexp_replace(cleaned, r"<[^>]*>", " ")
    # entity unescape: one textual pass; &amp; LAST so "&amp;lt;"
    # unescapes to "&lt;" (not twice to "<")
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        cleaned = F.replace(cleaned, F.lit(ent), F.lit(ch))
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        cleaned.alias("cleaned"),
        F.size(F.regexp_extract_all(text, F.lit(r"<[^>]*>"), 0))
        .cast("bigint")
        .alias("n_tags"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the
    context-length chunking step of a training-data layout pipeline
    (long doc -> N training examples with ``overlap`` tokens of
    continuity between consecutive chunks).

    Chunk starts are ``1 + k*stride`` (1-based, ``stride =
    chunk_tokens - overlap``) for ``k = 0..ceil(max(n_tokens -
    chunk_tokens, 0) / stride)`` — full coverage, last chunk may be
    shorter, short docs yield exactly one chunk. All arithmetic is
    non-negative integers so the same formula is exact in any engine.

    Zero shuffle: tokenize, window-index explode, and re-join of the
    slices are per-row codegen; output order/partitioning follows the
    input, so a downstream ``pack_shards`` sees chunks co-located with
    their documents.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if overlap < 0:
        # a negative overlap makes stride > chunk_tokens and tokens
        # BETWEEN chunks silently vanish from every chunk — breaking
        # the full-coverage guarantee above
        raise ValueError("overlap must be >= 0")
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    tokenized = df.select(
        F.col(id_col),
        normalized_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    ).withColumn(
        "_n_extra", F.greatest(F.size("_toks") - chunk_tokens, F.lit(0)).cast("bigint")
    )
    # integer ceil-div on non-negative ints: (a + b - 1) div b
    exploded = tokenized.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.expr(f"(_n_extra + {stride - 1}) DIV {stride}"),
            )
        ).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_toks"), (F.col("chunk_id") * stride + 1).cast("int"), chunk_tokens
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of the lowercased,
    whitespace-collapsed text (NULL fingerprints like the empty
    string, so NULL-text rows still group together instead of
    disappearing from fingerprint joins). Identical fingerprints =
    exact dup after normalization; cheap first pass before MinHash."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), r"\s+", " "))
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` most frequent normalized tokens
    with counts and sequential ranks (``row_number`` semantics: tied
    counts get DISTINCT consecutive ranks, ties broken by token text,
    so the output is fully deterministic and ``rank <= k`` always
    returns exactly k tokens).

    The building block for tokenizer training / frequency-filtered
    vocab cuts. Plan shape: explode -> partial-aggregated count (one
    shuffle on uniform token keys) -> global top-n
    (TakeOrderedAndProject, no full sort). At 100 TB the token-count
    table is tiny relative to the corpus; the explode never
    materializes (pipelined into the partial aggregation).
    """
    counts = (
        ensure_parallelism(df)
        .select(F.explode(normalized_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(top_n)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )


# the paper's "must contain 2 of" stop-word list (Gopher §A.1.1)
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A.1.1):
    the classic heuristic pre-filter for web-scale pretraining corpora,
    emitted as one boolean column per rule plus the conjunctive
    ``passes_gopher`` — keep the per-rule flags so curation can measure
    WHICH rule rejects how much of a crawl before committing to it.

    Rules (paper defaults): word count in [50, 100k]; mean word length
    in [3, 10]; symbol-to-word ratio (``#`` or ellipsis) <= 0.1; <= 90%
    of lines start with a bullet; <= 30% of lines end with an ellipsis;
    >= 80% of words contain an alphabetic character; >= 2 of the eight
    required English stop words present (English-centric by design —
    gate on :func:`detect_language` first for multilingual corpora).

    All rules are built-in-expression only — one narrow map over the
    corpus, no shuffle, no Python (the module's 100 TB discipline).
    NULL text behaves like empty text: every count is 0, the word-count
    rule fails, the row survives with ``passes_gopher = false``.
    """
    text0 = F.coalesce(F.col(text_col), F.lit(""))
    # stage text/tokens/lines once (word_ngrams_col contract): the rule
    # expressions below reference the token and line arrays ~15 times
    # across interpreted-HOF boundaries where codegen CSE cannot reach,
    # so inlined splits would re-tokenize per reference
    df = df.select(
        F.col(id_col),
        text0.alias("__gtext"),
        normalized_tokens(text0).alias("__gtoks"),
        _nonempty_lines(text0).alias("__glines"),
    )
    text = F.col("__gtext")
    toks = F.col("__gtoks")
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / safe_words
    )
    hash_count = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    # non-overlapping '...' occurrences + unicode ellipsis
    dots = (
        F.length(text) - F.length(F.replace(text, F.lit("...")))
    ) / F.lit(3)
    uni_ellipsis = F.length(text) - F.length(F.replace(text, F.lit("…")))
    # the paper applies the ratio threshold PER symbol ('#' or '...'),
    # not to their sum — a doc with both at 0.06 passes
    hash_ratio = hash_count / safe_words
    ellipsis_sym_ratio = (dots + uni_ellipsis) / safe_words
    lines = F.col("__glines")
    safe_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[•\-\*]")))
        / safe_lines
    )
    ellipsis_frac = (
        # \z (end of INPUT) not $: Java's $ also matches before a final
        # \r / U+2028-style line terminator, RE2's does not — \z means
        # the same thing in both engines (the oracle contract)
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*\z")))
        / safe_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike(r"[a-z]"))) / safe_words
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    rules = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "symbol_ratio_ok": (hash_ratio <= max_symbol_word_ratio)
        & (ellipsis_sym_ratio <= max_symbol_word_ratio),
        "bullet_ok": bullet_frac <= max_bullet_line_frac,
        "ellipsis_ok": ellipsis_frac <= max_ellipsis_line_frac,
        "alpha_word_ok": alpha_frac >= min_alpha_word_frac,
        "stopword_ok": stop_hits >= min_stop_hits,
    }
    passes = None
    for rule in rules.values():
        passes = rule if passes is None else (passes & rule)
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes_gopher"),
    )


def fineweb_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_punct_frac: float = 0.12,
    max_short_line_frac: float = 0.67,
    short_line_chars: int = 30,
    max_dup_line_char_frac: float = 0.01,
    max_newline_word_ratio: float = 0.3,
) -> DataFrame:
    """FineWeb custom quality filters (Penedo et al. 2024,
    arXiv:2406.17557 §3.6) — the four line-shape heuristics the paper
    adds ON TOP of its Gopher/C4 subset, with the paper's production
    thresholds as defaults.  Completes the module's quality-rule trio
    (:func:`gopher_rules`, :func:`c4_rules`, this) under the same
    per-rule-boolean contract.

    Rules: ``line_punct_ok`` — >= ``min_line_punct_frac`` of lines end
    in one of ``. ! ? ' "``; ``short_line_ok`` — <=
    ``max_short_line_frac`` of lines are shorter than
    ``short_line_chars`` characters; ``dup_line_char_ok`` — the
    fraction of characters sitting in repeat occurrences of a duplicate
    line is <= ``max_dup_line_char_frac``; ``newline_ratio_ok`` — the
    newline-to-word ratio of the raw text is <=
    ``max_newline_word_ratio`` (list/menu-page proxy).
    ``passes_fineweb`` is the conjunction.  Lines are the non-empty
    (after trim) ``\\r?\\n`` splits (:func:`_nonempty_lines` — CRLF
    text measures the same as LF text), compared verbatim for
    duplication and measured verbatim for length — the punctuation
    test alone looks at the trimmed tail.

    The duplicate-character count folds over the SORTED line array —
    each repeat occurrence past the first adds its length — so the rule
    is O(L log L) per document with NO shuffle and no n² pairing (the
    :func:`repetition_features` discipline); everything here is one
    codegen map stage over the corpus, plan-asserted Python-free.
    Integer character counts (``dup_line_chars``, ``line_chars``) ride
    along so downstream checks can re-derive the fraction exactly.
    NULL text behaves like empty: zero lines, every fraction 0.0, and
    the punctuation rule (a >=-floor over zero lines) fails.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    zero = F.lit(0).cast("bigint")
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        _nonempty_lines(text).alias("__lines"),
        F.size(normalized_tokens(text)).cast("bigint").alias("n_words"),
        (F.length(text) - F.length(F.replace(text, F.lit("\n"))))
        .cast("bigint")
        .alias("n_newlines"),
    )
    lines = F.col("__lines")
    dup_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(F.lit("").alias("prev"), zero.alias("dup")),
        lambda acc, l: F.struct(
            l.alias("prev"),
            (
                acc.dup
                + F.when(l == acc.prev, F.length(l)).otherwise(zero)
            ).alias("dup"),
        ),
        lambda acc: acc.dup,
    )
    feat = staged.select(
        F.col(id_col),
        F.col("n_words"),
        F.col("n_newlines"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(
            # \z not $: engine-exact end anchor (see gopher_rules)
            F.filter(lines, lambda l: F.trim(l).rlike(r"""[.!?'"]\z"""))
        )
        .cast("bigint")
        .alias("punct_lines"),
        F.size(
            F.filter(lines, lambda l: F.length(l) < F.lit(short_line_chars))
        )
        .cast("bigint")
        .alias("short_lines"),
        F.aggregate(lines, zero, lambda acc, l: acc + F.length(l)).alias(
            "line_chars"
        ),
        dup_chars.alias("dup_line_chars"),
    )
    safe_lines = F.greatest(F.col("n_lines"), F.lit(1)).cast("double")
    safe_chars = F.greatest(F.col("line_chars"), F.lit(1)).cast("double")
    safe_words = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    fracs = {
        "line_punct_frac": F.col("punct_lines") / safe_lines,
        "short_line_frac": F.col("short_lines") / safe_lines,
        "dup_line_char_frac": F.col("dup_line_chars") / safe_chars,
        "newline_word_ratio": F.col("n_newlines") / safe_words,
    }
    rules = {
        "line_punct_ok": fracs["line_punct_frac"]
        # a zero-line doc has punct_frac 0.0 and fails any positive floor
        >= F.lit(min_line_punct_frac),
        "short_line_ok": fracs["short_line_frac"]
        <= F.lit(max_short_line_frac),
        "dup_line_char_ok": fracs["dup_line_char_frac"]
        <= F.lit(max_dup_line_char_frac),
        "newline_ratio_ok": fracs["newline_word_ratio"]
        <= F.lit(max_newline_word_ratio),
    }
    passes = None
    for rule in rules.values():
        passes = rule if passes is None else (passes & rule)
    return feat.select(
        F.col(id_col),
        F.col("n_lines"),
        F.col("line_chars"),
        F.col("dup_line_chars"),
        *[c.alias(name) for name, c in fracs.items()],
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes_fineweb"),
    )


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_sentences: int = 3,
    bad_words: list[str] | None = None,
    require_line_terminal_punct: bool = True,
) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683
    §2.2): the line-level cleanup plus page-level drop rules used to
    build C4 from Common Crawl — the companion of :func:`gopher_rules`
    (reference surface: the same per-rule-boolean contract).

    Line filter (the paper's retained-line tests, applied together):
    keep a line iff it has >= ``min_line_words`` words, does not
    contain the word "javascript", and (when
    ``require_line_terminal_punct``) ends in a terminal punctuation
    mark (``.``/``!``/``?``, optionally followed by a closing quote).
    ``clean_text`` joins the kept lines with newlines.

    Page rules, one boolean column each, evaluated like the paper:
    ``sentences_ok`` — >= ``min_sentences`` sentences in the CLEANED
    text (sentences approximated as terminal-punctuation occurrences,
    documented and cross-engine deterministic); ``no_lorem_ipsum`` —
    the page does not contain "lorem ipsum" (case-insensitive);
    ``no_curly_brace`` — the page does not contain ``{`` (the paper's
    code proxy); ``no_bad_words`` — no normalized token of the
    ORIGINAL page is in ``bad_words`` (the paper uses an external
    blocklist; pass yours — an empty/None list makes the rule
    vacuously true).  ``passes_c4`` is the conjunction.  The paper's
    langdetect gate composes via :func:`detect_language`, and its
    three-sentence span dedup is the cross-document ``span_dedup`` /
    ``line_dedup`` operators — both out of scope for this row-local
    rule pass.

    All rules are built-in-expression only — one narrow map over the
    corpus, no shuffle, no Python (the module's 100 TB discipline).
    NULL text behaves like empty text: no lines survive,
    ``clean_text`` is ``''``, and the row reports ``passes_c4`` by the
    same rules (false unless ``min_sentences <= 0``).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    bad = sorted({w.lower() for w in (bad_words or [])})

    def _line_words(l: Column) -> Column:
        return F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda w: w != F.lit("")))

    def _keep_line(l: Column) -> Column:
        keep = (_line_words(l) >= F.lit(min_line_words)) & ~F.lower(l).contains(
            "javascript"
        )
        if require_line_terminal_punct:
            # \z not $: engine-exact end anchor (see gopher_rules)
            keep = keep & F.trim(l).rlike(r"[.!?][\"'”’]?\z")
        return keep

    # the lines array is materialized in its own projection so its
    # consumers share one evaluation (the repetition_features split:
    # CollapseProject keeps non-cheap expressions referenced twice)
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        text.alias("__text"),
        _nonempty_lines(text).alias("__lines"),
    )
    staged = staged.select(
        F.col(id_col),
        F.col("__text"),
        F.size("__lines").alias("n_lines"),
        F.filter(F.col("__lines"), _keep_line).alias("__kept"),
    )
    staged = staged.select(
        F.col(id_col),
        F.col("__text"),
        F.col("n_lines"),
        F.size("__kept").alias("n_lines_kept"),
        F.array_join("__kept", "\n").alias("clean_text"),
    )
    n_sentences = F.regexp_count(F.col("clean_text"), F.lit(r"[.!?]"))
    rules: dict[str, Column] = {
        "sentences_ok": n_sentences >= F.lit(min_sentences),
        "no_lorem_ipsum": ~F.lower(F.col("__text")).contains("lorem ipsum"),
        "no_curly_brace": ~F.col("__text").contains("{"),
        "no_bad_words": (
            F.size(
                F.array_intersect(
                    F.array_distinct(normalized_tokens(F.col("__text"))),
                    F.array(*[F.lit(w) for w in bad]),
                )
            )
            == 0
            if bad
            else F.lit(True)
        ),
    }
    passes = None
    for rule in rules.values():
        passes = rule if passes is None else (passes & rule)
    return staged.select(
        F.col(id_col),
        F.col("n_lines"),
        F.col("n_lines_kept"),
        n_sentences.cast("bigint").alias("n_sentences"),
        F.col("clean_text"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes_c4"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 document scores for a bag of query terms (Robertson &
    Zaragoza 2009), with the Lucene-style non-negative idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))`` — completes the module's
    retrieval surface next to :func:`tfidf_top_terms`.

    Output: ``id_col, n_matched, bm25`` for every document containing
    at least one query term (retrieval semantics — the score of a
    no-hit document is identically 0).

    Plan shape at 100 TB (r9): the corpus is scanned and tokenized
    ONCE, into the slim ``(id, dl, hits)`` projection — token count
    and query-term hits, NO text, ~tens of bytes per document — which
    is MATERIALIZED because its consumers (the (N, avgdl) stats
    aggregation and the tf path) otherwise re-execute the scan on the
    write path: AQE's stage reuse fires only under collect()-style
    actions — the r8 form's prune-proof grouping-key shape measured
    ``ReusedExchange: 2, scans: 1`` after a collect but ``scans: 3,
    reuse: 0`` executing the SAME plan through a write, and writes are
    what production sinks (and the bench) run.  The tf relation
    (query-term hit volume) is materialized too — the per-term
    document frequencies and the scoring join both consume it.
    Remaining exchanges carry hit volume, the bounded per-term
    frequencies, and the one-row stats.  Assumes ``id_col`` identifies
    the document (exact duplicate (id, text) rows collapse to one doc).
    """
    from .materialize import materialize
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError("bm25_scores: need k1 >= 0 and 0 <= b <= 1")
    terms = sorted({t.lower() for t in query_terms})
    toks = normalized_tokens(F.coalesce(F.col(text_col), F.lit("")))
    term_arr = F.array(*[F.lit(x) for x in terms])
    lengths = (
        ensure_parallelism(df)
        .select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            F.size("__toks").alias("dl"),
            F.filter(
                F.col("__toks"), lambda t: F.array_contains(term_arr, t)
            ).alias("__hits"),
        )
        # per-doc distinct (id is the doc identity; dl and __hits are
        # functionally dependent on it) — collapses exact duplicate
        # rows before the slim relation materializes
        .distinct()
    )
    lengths = materialize(lengths)
    # tf has exactly ONE consumer (the scoring join below) — document
    # frequency derives from `lengths` directly (distinct hit terms
    # per doc), NOT from tf — so tf needs no second materialization
    # barrier: the r9 shape materialized it too and the barrier cost
    # dominated at bench scale (sim_hybrid_topk 1.25s -> 2.07s) while
    # buying nothing (both consumers' recompute is an explode+groupBy
    # of the already-materialized slim relation, not a corpus scan)
    tf = _doc_term_tf(
        lengths, id_col, F.col("__hits"), term_name="term", keep=["dl"]
    )
    # N and avgdl in ONE single-row aggregation over the materialized
    # slim relation — not a second scan of the source
    stats = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.coalesce(F.sum("dl"), F.lit(0)).cast("double")
            / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfreq = (
        lengths.select(
            F.explode(F.array_distinct("__hits")).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.col("term"),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("__contrib"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.sum("__contrib").alias("bm25"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 5,
) -> DataFrame:
    """Per-document top-N terms by tf-idf over the whole corpus —
    the standard keyword/characteristic-term extraction.

    tf and document frequency are exact integers; the score is
    ``tf * ln(n_docs / df)`` with ties broken by term text, so ranking
    is deterministic.  Output: ``id, term, tf, df, tfidf, rank``.

    Plan shape (r9, scales linearly in corpus size): explode ->
    (id, term) count [1 full shuffle, map-side combined], MATERIALIZED
    — its two consumers (document frequency and the scoring join)
    re-executed the scan+tokenize on the write path, where AQE never
    reuses a shared exchange; document frequency re-aggregates the
    blocks [smaller shuffle].  The corpus size is a 1-row count over a
    SECOND scan of the source — column-pruned to ``id_col`` alone (one
    narrow column chunk, not the text; it cannot derive from the tf
    table, which has no rows for empty documents) — joined by
    broadcast; the final per-doc top-n is a window over the (id, term)
    table.  Nothing wider than the tf table ever shuffles.
    """
    from .materialize import materialize

    # _doc_term_tf is per-ROW RLE: with duplicate (or NULL) doc ids a
    # (id, term) can span several source rows, which would both inflate
    # df past n_docs (negative tf-idf for corpus-wide terms — the exact
    # regression the n_docs comment below guards) and emit split rows
    # into the per-id top-n.  Re-merge per (id, term) before the
    # barrier: the RLE rows arrive already reduced to one per distinct
    # (row, term), so this exchange's partial agg ships type-scale
    # volume, keeping most of the r10 win (ADVICE r10 #1).
    tf = materialize(
        _doc_term_tf(
            ensure_parallelism(df),
            id_col,
            normalized_tokens(F.col(text_col)),
            term_name="term",
        )
        .groupBy(F.col(id_col), F.col("term"))
        .agg(F.sum("tf").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # n_docs must count the same DOCUMENT GRANULARITY df counts: rows
    # with NULL or duplicate ids made df > n_docs, turning tf-idf
    # negative for corpus-wide terms (ranking stopwords FIRST)
    n_docs = df.agg(
        (
            F.count_distinct(F.col(id_col))
            + F.coalesce(F.max(F.col(id_col).isNull().cast("int")), F.lit(0))
        ).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained unigram LM score per document — the relational core
    of a CCNet/Gopher-style perplexity quality filter. ``p(t)`` is the
    token's corpus frequency; a document's negative log-likelihood is
    ``sum(tf * -ln p)``; ``avg_nll`` (per-token) separates repetitive
    common-language text (low) from rare-token noise (high).

    Reproducibility: each (doc, term) contribution is rounded to
    integer **micro-nats** (``floor(x*1e6 + 0.5)`` BIGINT) before the
    per-doc sum, so aggregation is integer-exact and independent of
    partitioning — double sums would drift by ulps under parallel
    reduction. Output: ``id, n_tokens, nll_micro, avg_nll``.
    Quantization happens per SOURCE ROW (``_doc_term_tf`` granularity):
    ids must be row-unique for bit-stable ``nll_micro`` — duplicate-id
    rows pool in the final sum but round per row, drifting ±1 micro-nat
    per split term versus a pre-pooled tf (documented contract, like
    ``dsir_weights``).

    Plan shape (r8): the ``(id, term) -> tf`` table is the one
    corpus-volume shuffle; the term-total TYPE table is an INDEPENDENT
    subtree (AQE never reuses a shared exchange across consumers — the
    r7 form re-ran the corpus explode per statistics consumer), eagerly
    materialized type-sized, with the corpus total and the per-term
    ``-ln p`` derived from it; scoring is one plain-key join from the
    tf table plus one final groupBy(id) of already-reduced rows.
    """
    from .materialize import materialize

    src = ensure_parallelism(df)
    toks = normalized_tokens(F.col(text_col))
    tf = _doc_term_tf(src, id_col, toks, term_name="term")
    totals = materialize(
        src.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("ct"))
    )
    corpus = totals.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).alias("n_corpus")
    )
    scores = totals.crossJoin(F.broadcast(corpus)).select(
        "term",
        (
            -F.log(
                F.col("ct").cast("double") / F.col("n_corpus").cast("double")
            )
        ).alias("__nll"),
    )
    contrib = tf.join(scores, "term").withColumn(
        "nll_micro",
        F.floor(
            F.col("tf").cast("double") * F.col("__nll") * F.lit(1e6)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    per_doc = contrib.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum("nll_micro").cast("bigint").alias("nll_micro"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "nll_micro",
        (
            F.col("nll_micro").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(1e6))
        ).alias("avg_nll"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained bigram LM score per document: the first token is
    scored by its unigram probability, every later token by the
    conditional ``p(t_i | t_{i-1}) = c(t_{i-1} t_i) / c(t_{i-1} ·)``
    (prefix count = bigram occurrences starting with the token). A
    sharper quality filter than :func:`unigram_logprob` — word-salad
    text has plausible unigrams but improbable transitions.

    Same reproducibility contract: per-(doc, event) contributions are
    quantized to integer micro-nats before the per-doc sum — and the
    same row-unique-id requirement for bit-stable ``nll_micro`` as
    :func:`unigram_logprob` (quantization is per source row).
    Output: ``id, n_tokens, nll_micro, avg_nll`` (avg over the
    n_tokens scored events).  Documents with no tokens produce NO
    output row (there is nothing to score) — outer-join by id if the
    downstream filter must keep them.

    Plan shape (r8, the kn_* shape): the per-doc EVENT table —
    ``[first_token] ++ bigrams`` in one ``(doc, gram) -> tf`` shuffle
    (a gram's word count is its level: tokens contain no whitespace)
    — and the gram TYPE table (full tokens ++ bigrams reduced by gram,
    an independent subtree AQE schedules concurrently, eagerly
    materialized type-sized) are the only corpus passes; AQE never
    reuses a shared exchange across consumers, so the r7 form's
    statistics subtrees re-ran the corpus tokenize ~5x.  ``-ln p`` is
    assembled per DISTINCT gram over type-sized joins (single-word
    rows by ``ct/n_corpus``, bigram rows by ``ct/ct_prefix``), and the
    event table pays one plain-key equi-join against the scored types.
    """
    src = ensure_parallelism(df)
    # stage the token array ONCE per consumer branch (word_ngrams_col
    # contract): the regex split is non-cheap and the projections below
    # reference it repeatedly — inline it re-tokenizes per reference
    from .dedup import _sql_ident
    from .materialize import materialize
    from .sampling import _fresh_name

    tk = _fresh_name("__toks", src.columns)
    toked = src.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias(tk)
    )
    t = _sql_ident(tk)

    # gram TYPE table: FULL unigram counts (the first token is scored
    # by its global unigram probability, so the whole token stream
    # explodes, not just first tokens) + bigram counts, one shuffle
    types0 = (
        toked.select(
            F.expr(f"explode(concat({t}, {_kn_grams_sql(t, 2)}))")
            .alias("gram")
        )
        .groupBy("gram")
        .agg(F.count("*").alias("ct"))
    )
    types0 = materialize(types0)

    is2 = F.col("gram").contains(" ")
    s0 = F.split(F.col("gram"), " ")[0]
    uni = types0.where(~is2)
    corpus = uni.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).alias("n_corpus")
    )
    prefix_totals = types0.where(is2).groupBy(s0.alias("prefix")).agg(
        F.sum("ct").alias("ct_prefix")
    )
    nll = F.when(
        ~is2,
        -F.log(F.col("ct").cast("double") / F.col("n_corpus").cast("double")),
    ).otherwise(
        -F.log(F.col("ct").cast("double") / F.col("ct_prefix").cast("double"))
    )
    k_pfx = F.when(is2, s0).otherwise(F.col("gram"))
    scores = (
        types0.join(prefix_totals, k_pfx == F.col("prefix"), "left")
        .crossJoin(F.broadcast(corpus))
        .select("gram", nll.alias("__nll"))
    )

    # the corpus-volume pass: per-doc events -> tf -> scored join
    # (zero-shuffle per-row RLE — see _doc_term_tf)
    events = _doc_term_tf(toked, id_col, _kn_events(tk, 2))
    scored = events.join(scores, "gram").select(
        F.col(id_col),
        F.col("tf").cast("bigint").alias("events"),
        F.floor(
            F.col("tf").cast("double") * F.col("__nll") * F.lit(1e6)
            + F.lit(0.5)
        ).cast("bigint").alias("nll_micro"),
    )

    # n_tokens >= 1 for every output row by construction (a doc emits
    # events only when it has at least one token), so plain division
    return _kn_per_doc(scored, id_col)



def _doc_term_tf(
    toked: DataFrame,
    id_col: str,
    ev_arr: Column,
    term_name: str = "gram",
    keep: list[str] | None = None,
) -> DataFrame:
    """Per-document ``(id, term, tf)`` WITHOUT a corpus shuffle (r10).

    The classic form — ``explode(events).groupBy(id, term).count()`` —
    shuffles every (doc, term) event row to count duplicates that all
    live in the SAME input row: tf is functionally keyed by the
    document row itself.  Sorting the per-row event array and
    run-length-encoding it computes the identical multiset map-side;
    the relation leaves the operator already reduced to one row per
    distinct (doc, term), which is exactly what the old aggregation
    emitted — and any later ``groupBy(id)`` now partial-aggregates a
    document to ONE row before its exchange, because a document's
    events are co-located by construction instead of scattered by
    hash(id, term).  Measured at sf0.1 (kn3 gates): the corpus-volume
    exchange disappears from the plan and the events materialization
    job halves.

    Bit-identity: same (id, term, tf) multiset (any total order groups
    equal elements; ``array_sort`` is one), tf a BIGINT like the old
    ``count(*)``.  Empty/NULL event arrays emit no row (explode of an
    empty array), matching the old explode exactly; NULL *elements*
    get their own (NULL, tf) run via the null-safe boundary test,
    matching how groupBy grouped NULL terms.  ``F.get`` (not
    ``element_at``): 0-based and NULL out of bounds under ANSI mode.

    Granularity note: rows are keyed by the INPUT ROW — a document
    whose id spans several rows emits per-row runs, not a pooled
    (id, term) row.  Consumers whose math is linear in tf (every LM
    scorer here) are unaffected; consumers needing document
    granularity under duplicate ids must re-aggregate (tfidf_top_terms
    does), and the micro-nat quantizers round per source row, so
    nll_micro is bit-stable only for row-unique ids (ADVICE r10 #3 —
    documented contract, same as dsir_weights).
    """
    # STAGED columns, not inline subtrees: a lambda body has no common-
    # subexpression elimination, so F.get(<array_sort(...)>, i) inside
    # filter/transform would re-sort the whole array PER ELEMENT
    # (measured: the first draft turned a 3s gate into minutes).  Bound
    # attribute references are O(1); multi-referenced non-trivial
    # aliases also block CollapseProject from inlining them back.
    from .dedup import _sql_ident

    extra = [F.col(c) for c in (keep or [])]
    st1 = toked.select(
        F.col(id_col), *extra, F.array_sort(ev_arr).alias("__ev_sorted")
    )
    # The boundary/RLE trees below are rendered as single F.expr parses
    # (r11, the word_ngrams_col one-parse contract): the Column form
    # issued ~400 py4j round-trips per call, ~0.2 s of pure driver time,
    # and this helper sits under every LM scorer.  The SQL text is the
    # same tree node for node — construction-parity pinned by test.
    #
    # null-SAFE boundary test (ADVICE r10 #2): a plain != evaluates to
    # NULL at a non-null→NULL boundary and filter() drops it, silently
    # absorbing a NULL run into the preceding term; <=> gives NULL
    # elements their own run exactly like groupBy(id, term) grouped
    # NULL terms.  For NULL-free arrays the two predicates agree
    # bit-for-bit.
    #
    # sequence(0, -1) on an empty array would generate DESCENDING
    # [0, -1] — the starts expression is guarded behind size > 0
    starts_sql = (
        "filter(sequence(0, size(__ev_sorted) - 1), "
        "i -> CASE WHEN i = 0 THEN true "
        "ELSE NOT (get(__ev_sorted, i) <=> get(__ev_sorted, i - 1)) END)"
    )
    st2 = st1.select(
        F.col(id_col),
        *extra,
        F.col("__ev_sorted"),
        F.expr(
            f"CASE WHEN size(__ev_sorted) > 0 THEN {starts_sql} "
            "ELSE CAST(array() AS ARRAY<INT>) END"
        ).alias("__ev_starts"),
    )
    tn = _sql_ident(term_name)
    pairs = F.expr(
        "transform(__ev_starts, (s, j) -> struct("
        f"get(__ev_sorted, s) AS {tn}, "
        "CAST((coalesce(get(__ev_starts, j + 1), size(__ev_sorted)) - s) "
        "AS BIGINT) AS tf))"
    )
    return st2.select(
        F.col(id_col), *extra, F.explode(pairs).alias("__rle")
    ).select(
        F.col(id_col),
        *extra,
        F.col(f"__rle.{term_name}").alias(term_name),
        F.col("__rle.tf").alias("tf"),
    )


def _kn_grams_sql(t: str, k: int) -> str:
    """SQL for the real k-grams of the quoted token column ``t``:
    :func:`word_ngrams_col` emits one partial gram for docs shorter
    than ``k``; the slice drops it (empty array for short docs), so
    explode sites need no ``size >= k`` filter."""
    from .dedup import _word_ngrams_sql

    if k == 1:
        return t
    return (
        f"slice({_word_ngrams_sql(t, k)}, 1, greatest(size({t}) - {k - 1}, 0))"
    )


def _kn_events(toks: str, n: int) -> Column:
    """Per-document KN events of order ``n`` over the staged token
    column ``toks``: the first k-gram for each k < n (scored at level
    k), then every n-gram (scored at the top level), one array, empty
    for empty docs.

    Events need no level tag: tokens contain no whitespace
    (``normalized_tokens`` splits on it), so a gram's word count IS
    its level.  Exploding plain string arrays keeps the hot corpus
    pass in whole-stage codegen, and the tree is one ``F.expr`` parse
    (r11, the word_ngrams_col contract).
    """
    from .dedup import _sql_ident

    t = _sql_ident(toks)
    firsts = [
        f"slice(array(concat_ws(' ', slice({t}, 1, {k}))), 1, "
        f"least(greatest(size({t}) - {k - 1}, 0), 1))"
        for k in range(1, n)
    ]
    return F.expr(f"concat({', '.join(firsts + [_kn_grams_sql(t, n)])})")


def _kn_doc_events(
    df: DataFrame, text_col: str, id_col: str, order: int
) -> DataFrame:
    """The corpus-volume pass: ``(id, gram, tf)`` of the order-n events,
    one tokenize and zero-shuffle run-length count (see _doc_term_tf)."""
    from .sampling import _fresh_name

    src = ensure_parallelism(df)
    tk = _fresh_name("__toks", src.columns)
    toked = src.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias(tk)
    )
    return _doc_term_tf(toked, id_col, _kn_events(tk, order))


def _kn_per_doc(scored: DataFrame, id_col: str) -> DataFrame:
    """Shared LM finisher: micro-nat integer sums per document plus the
    derived ``avg_nll`` (n_tokens >= 1 on every row: a doc emits
    events only when it has a token)."""
    per_doc = scored.groupBy(id_col).agg(
        F.sum("events").cast("bigint").alias("n_tokens"),
        F.sum("nll_micro").cast("bigint").alias("nll_micro"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "nll_micro",
        (
            F.col("nll_micro").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(1e6))
        ).alias("avg_nll"),
    )


# floor(tf * nll * 1e6 + 0.5) micro-nat quantization, rendered once
# (identical to the Column form: 1000000.0D == F.lit(1e6))
_KN_MICRO_SQL = (
    "CAST(floor(CAST(tf AS DOUBLE) * __nll * 1000000.0D + 0.5D) AS BIGINT)"
)


def _kn_key(length: int, skip: int = 0) -> str:
    """SQL for the ``length`` words of a gram that end ``skip`` words
    before its last one — level k's suffix is ``(k, 0)``, its context
    ``(k - 1, 1)``.  A gram too short for the window keys as ``''``,
    which matches no statistic (its level never reads that one)."""
    return (
        f"array_join(slice(split(gram, ' '), {-length - skip}, {length}), ' ')"
    )


def _kn_nll_sql(order: int, discount: float) -> str:
    """SQL of the per-gram ``-ln P`` tree of the order-n recursion
    (see :func:`_kn_score`): P1, then one interpolation per level,
    each gram scored at the level of its word count."""
    d = f"{float(discount)!r}D"
    nw = "size(split(gram, ' '))"
    p = (
        "(CAST(coalesce(n1p1, 0) AS DOUBLE) + 1.0D) / "
        "(CAST(n_types AS DOUBLE) + CAST(v AS DOUBLE))"
    )
    whens = [f"WHEN {nw} = 1 THEN - ln({p})"]
    for k in range(2, order + 1):
        c = "ct" if k == order else f"n1p{k}"
        p = (
            f"CASE WHEN tot{k} IS NULL THEN {p} ELSE "
            f"greatest(CAST(coalesce({c}, 0) AS DOUBLE) - {d}, 0.0D) / "
            f"CAST(tot{k} AS DOUBLE) + {d} * CAST(fan{k} AS DOUBLE) / "
            f"CAST(tot{k} AS DOUBLE) * ({p}) END"
        )
        whens.append(f"WHEN {nw} = {k} THEN - ln({p})")
    return f"CASE {' '.join(whens)} END"


def _kn_score(
    events: DataFrame,
    types: DataFrame,
    top: DataFrame,
    bigrams: DataFrame,
    scalars: DataFrame,
    order: int,
    discount: float,
    id_col: str,
) -> DataFrame:
    """Interpolated Kneser-Ney (KN) NLL per document, order 2 or 3 —
    the one home of the model math behind all four KN scorers.

        Pk(w|h) = max(c_k(h w) - D, 0) / tot_k(h)
                  + D * fan_k(h) / tot_k(h) * P(k-1)(w|h')
        P1(w)   = (N1+(.w) + 1) / (N1+(..) + V)

    ``h`` is the k-1 words before ``w`` and ``h'`` its last k-2.  At
    the TOP level ``c_k`` is the raw count ``ct`` of the n-gram,
    ``tot_k(h)`` its context's mass ``c(h .)`` and ``fan_k(h)`` the
    context's distinct continuations ``N1+(h .)``.  A MIDDLE level (the
    bigram level of the trigram model) runs on continuation counts
    from the same trigram type table: ``c_2(w2 w3) = N1+(. w2 w3)``,
    ``tot_2(w2) = N1+(. w2 .)``, ``fan_2(w2)`` the distinct ``w3`` —
    so probability mass conserves exactly (pinned by test).  ``P1`` is
    the add-one-smoothed continuation distribution over the bigram
    type set: strictly positive for every word (a word seen only
    document-initially has ``N1+(.w) = 0``) and a deterministic OOV
    floor ``1/(N1+(..) + V)``.  An unseen n-gram under a seen context
    gets pure discount mass; a context never seen (``tot_k`` NULL)
    backs off entirely to the level below.  A document's first token
    is scored by P1, its first k-gram (k < n) by Pk, and every n-gram
    by Pn.  The self-trained scorers run the same guarded tree: on a
    corpus's own type table every context is seen and ``ct`` is never
    NULL, so the guards never fire.

    Micro-nat contract (:func:`bigram_logprob`'s): each (doc, gram)
    contribution quantizes ``tf * -ln P`` to integer micro-nats before
    the per-doc sum, so engine-side float summation order cannot move
    the hash.  Output ``id, n_tokens, nll_micro, avg_nll``; empty/NULL
    documents produce no row.

    Inputs: the per-doc ``events`` ``(id, gram, tf)``; ``types``, the
    distinct event grams with a count ``ct`` that is read for top-order
    grams only (NULL when the model never saw one); ``top``, the
    top-order type table
    ``(gram, ct)``; ``bigrams``, the bigram type set; ``scalars``, one
    row ``(n_types, v)``.  Every statistic is a small groupBy of a
    type table on the same rendered key (:func:`_kn_key`) that joins it
    back — broadcast at gate scale, hash joins of type-sized tables at
    cluster scale; ``-ln P`` is computed once per distinct gram and the
    corpus pays one equi-join on ``gram``.
    """
    def stat(src: DataFrame, key: str, name: str, *aggs) -> tuple:
        return key, src.groupBy(F.expr(key).alias(name)).agg(*aggs)

    # (rendered key, statistic keyed by its first column) per join
    stats = [stat(top, _kn_key(order - 1, 1), f"__x{order}",
                  F.sum("ct").alias(f"tot{order}"),
                  F.count("*").alias(f"fan{order}"))]
    for k in range(2, order):  # the middle level: trigram types (order 3)
        cont = top.groupBy(F.expr(_kn_key(k)).alias("gram")).agg(
            F.count("*").alias(f"n1p{k}")
        )
        stats += [
            (_kn_key(k), cont.withColumnRenamed("gram", f"__s{k}")),
            stat(cont, _kn_key(k - 1, 1), f"__x{k}",
                 F.sum(f"n1p{k}").alias(f"tot{k}"),
                 F.count("*").alias(f"fan{k}")),
        ]
    stats.append(stat(bigrams, _kn_key(1), "__s1",
                      F.count("*").alias("n1p1")))
    for key, st in stats:
        types = types.join(st, F.expr(f"({key}) = {st.columns[0]}"), "left")
    scores = types.crossJoin(F.broadcast(scalars)).select(
        "gram", F.expr(_kn_nll_sql(order, discount)).alias("__nll")
    )
    scored = events.join(scores, "gram").select(
        F.col(id_col),
        F.col("tf").cast("bigint").alias("events"),
        F.expr(_KN_MICRO_SQL).alias("nll_micro"),
    )
    return _kn_per_doc(scored, id_col)


def _kn_selftrained(df, text_col, id_col, discount, cache_stats,
                    checkpoint_dir, order, fn) -> DataFrame:
    """Self-trained KN: the model is the corpus's own event type table.

    ONE tokenize/explode over the corpus (r9): the events are
    materialized and the gram TYPE table derives from their blocks
    (sum of tf == corpus ct exactly), itself materialized type-sized
    because every statistic re-aggregates it.  The bigram type set
    needs no second corpus pass: every corpus bigram is a first bigram
    or a pair of some trigram type (order <= 3), and every corpus word
    is a first token or a word of some bigram, so V and N1+(..) come
    from one tiny aggregate."""
    from .materialize import materialize

    if not 0 < discount < 1:
        raise ValueError(f"{fn}: discount must be in (0, 1), got {discount}")

    def mat(x: DataFrame) -> DataFrame:
        return materialize(x, checkpoint_dir) if cache_stats else x

    events = mat(_kn_doc_events(df, text_col, id_col, order))
    types = mat(events.groupBy("gram").agg(F.sum("tf").alias("ct")))
    nw = "size(split(gram, ' '))"
    top = types.where(f"{nw} = {order}")
    bigrams = types.where(f"{nw} = 2").select("gram")
    if order == 3:
        bigrams = (
            bigrams.union(top.select(F.expr(_kn_key(2, 1))))
            .union(top.select(F.expr(_kn_key(2))))
            .distinct()
        )
    scalars = (
        bigrams.union(types.where(f"{nw} = 1").select("gram"))
        .selectExpr("gram", "explode(split(gram, ' ')) AS w")
        .agg(
            F.count_distinct(F.expr("CASE WHEN contains(gram, ' ') "
                                    "THEN gram END")).alias("n_types"),
            F.count_distinct("w").alias("v"),
        )
    )
    return _kn_score(events, types, top, bigrams, scalars, order,
                     discount, id_col)


def _kn_external(df, model, text_col, id_col, discount, cache_model,
                 checkpoint_dir, normalize_model, order, fn) -> DataFrame:
    """KN against an external :func:`_kn_fit` model ``(w1..wn, ct)``.

    The model is normalized (an UNMERGED union of per-shard fits
    carries duplicate gram rows; summing makes plain ``unionByName``
    of shard fits a valid model, and a merged model passes through)
    and eagerly materialized type-sized: several statistics consume
    it, and a lazy ``.cache()`` raced by concurrent consumers measured
    slower than recompute.  It is validated in the same lazy scalars
    action (no extra pass): w1 non-NULL, non-NULL words a prefix,
    vocabulary rows present (V and the OOV floor need them), and no
    level missing under a higher one.  The corpus events are
    materialized eagerly: they feed the scoring join and the
    distinct-gram side, and AQE shares no exchange across consumers.
    """
    from .materialize import materialize

    fit = fn.replace("_score", "_fit")
    if not 0 < discount < 1:
        raise ValueError(f"{fn}: discount must be in (0, 1), got {discount}")
    words = [f"w{i}" for i in range(1, order + 1)]
    for c in words + ["ct"]:
        if c not in model.columns:
            raise ValueError(
                f"{fn}: model must be a {fit} relation with columns "
                f"({', '.join(words)}, ct) — missing {c!r}"
            )
    if normalize_model:
        model = model.groupBy(*words).agg(F.sum("ct").alias("ct"))
    if cache_model:
        model = materialize(model, checkpoint_dir)

    def level(k: int) -> str:
        return f"w{k} IS NOT NULL" + (
            f" AND w{k + 1} IS NULL" if k < order else ""
        )

    bad = " OR ".join(["w1 IS NULL"] + [
        f"(w{i} IS NULL AND w{i + 1} IS NOT NULL)" for i in range(1, order)
    ])
    invalid = " OR ".join(["n1 <= 0", "bad > 0"] + [
        f"(n{k} <= 0 AND n{k + 1} > 0)" for k in range(2, order)
    ])
    scalars = model.agg(
        *[F.expr(f"coalesce(sum(CASE WHEN {level(k)} THEN 1 END), 0)")
          .alias(f"n{k}") for k in range(1, order + 1)],
        F.expr(f"coalesce(sum(CASE WHEN {bad} THEN 1 END), 0)").alias("bad"),
    ).select(
        F.col("n2").alias("n_types"),
        F.when(F.expr(invalid), F.raise_error(F.lit(
            f"{fn}: model is not a {fit} relation (no unigram vocabulary "
            "rows, rows with NULL w1 or a word after a NULL one, or a "
            "level missing under a higher one) — refit or repair the model"
        )).cast("long")).otherwise(F.col("n1")).alias("v"),
    )
    gram = f"concat_ws(' ', {', '.join(words)}) AS gram"
    top = model.where(level(order)).selectExpr(gram, "ct")
    bigrams = model.where(level(2)).selectExpr(gram)
    events = materialize(
        _kn_doc_events(df, text_col, id_col, order), checkpoint_dir,
        eager=True,
    )
    types = events.select("gram").distinct().join(top, "gram", "left")
    return _kn_score(events, types, top, bigrams, scalars, order,
                     discount, id_col)


def _kn_fit(df: DataFrame, text_col: str, order: int) -> DataFrame:
    """The raw 1..n-gram type counts as ``(w1, .., wn, ct)`` rows, the
    words past a gram's length NULL: one tokenize pass, one explode and
    one shuffle (a gram's word count is its level); output size is the
    type table, not the corpus."""
    toked = ensure_parallelism(df).select(
        normalized_tokens(F.col(text_col)).alias("__toks")
    )
    grams = ", ".join(
        _kn_grams_sql("`__toks`", k) for k in range(1, order + 1)
    )
    return (
        toked.select(F.expr(f"explode(concat({grams}))").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("ct"))
        .select(
            *[F.expr(f"get(split(gram, ' '), {i})").alias(f"w{i + 1}")
              for i in range(order)],
            "ct",
        )
    )


def kn_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    cache_stats: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Self-trained **interpolated Kneser-Ney** bigram NLL per document
    — the smoothing family real perplexity filters use (CCNet scores
    with a KN-smoothed KenLM; plain MLE bigrams give -inf to any unseen
    transition).  Token 1 is scored by the add-one continuation
    distribution, tokens 2..n by the interpolated conditional; the
    math and the micro-nat contract are on :func:`_kn_score`.

    Output: ``id, n_tokens, nll_micro, avg_nll``; empty/NULL-token
    documents produce no row.  ``cache_stats=False`` skips the events
    and type-table materialization (pure lazy plan, e.g. for EXPLAIN);
    ``checkpoint_dir`` switches it from executor-local
    ``localCheckpoint`` blocks to a reliable ``checkpoint()``.
    """
    return _kn_selftrained(df, text_col, id_col, discount, cache_stats,
                           checkpoint_dir, 2, "kn_bigram_logprob")


def kn_bigram_fit(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Fit the Kneser-Ney bigram model as a RELATION — the production
    shape (CCNet's): fit once on a reference corpus, persist to
    parquet, score every crawl with :func:`kn_bigram_score`.

    Model rows: bigram counts ``(w1, w2, ct)`` and unigram (vocabulary)
    counts ``(w, NULL, ct)``.  MERGEABLE: per-shard fits roll up with
    ``unionByName`` + ``groupBy(w1, w2).sum(ct)`` — counts are counts.
    """
    return _kn_fit(df, text_col, 2)


def kn_bigram_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    cache_model: bool = True,
    checkpoint_dir: str | None = None,
    normalize_model: bool = True,
) -> DataFrame:
    """Score documents against an EXTERNAL :func:`kn_bigram_fit` model;
    ``kn_bigram_score(df, kn_bigram_fit(df))`` is row-identical to
    :func:`kn_bigram_logprob` (pinned by test).  Same output.

    Out-of-model events stay finite: an OOV or never-second word
    scores the continuation floor ``1/(N1+(..) + V)``; an unseen
    PREFIX backs off entirely to the continuation distribution; an
    unseen bigram under a seen prefix gets pure discount mass.  A model
    without vocabulary rows or with NULL ``w1`` raises.

    ``normalize_model=False`` skips the groupBy that makes a plain
    ``unionByName`` of shard fits valid (pass it for one fit's
    persisted output); ``cache_model=False`` skips the eager model
    materialization (e.g. a parquet read); ``checkpoint_dir`` selects
    reliable checkpoints over ``localCheckpoint``.
    """
    return _kn_external(df, model, text_col, id_col, discount, cache_model,
                        checkpoint_dir, normalize_model, 2, "kn_bigram_score")


def kn_trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    cache_stats: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Self-trained **trigram** interpolated Kneser-Ney NLL per
    document — the three-level recursion (:func:`_kn_score`) whose
    middle level runs on continuation counts.  Token 1 is scored by
    P1, token 2 by P2(t2|t1), tokens 3..n by P3; documents shorter
    than 3 tokens have no P3 events.  Output, ``cache_stats`` and
    ``checkpoint_dir`` as in :func:`kn_bigram_logprob`.
    """
    return _kn_selftrained(df, text_col, id_col, discount, cache_stats,
                           checkpoint_dir, 3, "kn_trigram_logprob")


def kn_trigram_fit(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Fit the Kneser-Ney trigram model as a RELATION
    (:func:`kn_bigram_fit` one order up), scored by
    :func:`kn_trigram_score`.

    Model rows: trigram counts ``(w1, w2, w3, ct)``, bigram counts
    ``(w1, w2, NULL, ct)`` and unigram counts ``(w1, NULL, NULL, ct)``
    — the RAW type tables, not derived N1+ counts: the distinct-
    neighbor statistics are recomputed at score time, which is what
    keeps the relation MERGEABLE (``unionByName`` +
    ``groupBy(w1, w2, w3).sum(ct)``).
    """
    return _kn_fit(df, text_col, 3)


def kn_trigram_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    cache_model: bool = True,
    checkpoint_dir: str | None = None,
    normalize_model: bool = True,
) -> DataFrame:
    """Score documents against an EXTERNAL :func:`kn_trigram_fit`
    model; ``kn_trigram_score(df, kn_trigram_fit(df))`` is
    row-identical to :func:`kn_trigram_logprob` (pinned by test).

    Out-of-model events stay finite, one backoff level at a time:

    * OOV / never-continuation ``w3``: P1's floor ``1/(N1+(..) + V)``;
    * ``w2`` never seen mid-trigram: P2 backs off entirely to P1;
    * unseen ``(w2, w3)`` under a seen mid-context: P2's discount mass;
    * unseen ``(w1, w2)`` prefix: P3 backs off entirely to P2;
    * unseen trigram under a seen prefix: P3's discount mass.

    A model without vocabulary rows, with NULL ``w1``, with ``w2``
    NULL but ``w3`` set, or with trigrams but no bigram level raises.
    ``cache_model``, ``checkpoint_dir`` and ``normalize_model`` as in
    :func:`kn_bigram_score`.
    """
    return _kn_external(df, model, text_col, id_col, discount, cache_model,
                        checkpoint_dir, normalize_model, 3,
                        "kn_trigram_score")


# Unicode script blocks for script_profile, in PRECEDENCE order (the
# dominant-script tie-break).  BMP-only ranges on purpose: Java regex
# walks UTF-16 code units, so astral-plane classes would need surrogate
# handling; every major writing system's core block is in the BMP.
SCRIPT_RANGES: tuple[tuple[str, tuple[tuple[int, int], ...]], ...] = (
    # the Latin-1 block skips U+00D7 (×) and U+00F7 (÷): they are math
    # symbols, and counting them as Latin letters would dilute exactly
    # the mojibake/no-script signal this profile exists to provide
    (
        "latin",
        (
            (0x0041, 0x005A),
            (0x0061, 0x007A),
            (0x00C0, 0x00D6),
            (0x00D8, 0x00F6),
            (0x00F8, 0x024F),
        ),
    ),
    ("cyrillic", ((0x0400, 0x04FF),)),
    ("greek", ((0x0370, 0x03FF),)),
    ("arabic", ((0x0600, 0x06FF), (0x0750, 0x077F))),
    ("hebrew", ((0x0590, 0x05FF),)),
    ("devanagari", ((0x0900, 0x097F),)),
    ("thai", ((0x0E00, 0x0E7F),)),
    ("cjk", ((0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xF900, 0xFAFF))),
    ("kana", ((0x3040, 0x30FF), (0x31F0, 0x31FF))),
    ("hangul", ((0x1100, 0x11FF), (0xAC00, 0xD7AF))),
)


def script_char_class(ranges: tuple[tuple[int, int], ...]) -> str:
    """``[\\x{lo}-\\x{hi}…]`` regex class for a range list — the
    ``\\x{hhhh}`` escape parses identically in Java regex (Spark) and
    RE2 (DuckDB, the gate oracle), so one literal serves both
    engines."""
    body = "".join(f"\\x{{{lo:04X}}}-\\x{{{hi:04X}}}" for lo, hi in ranges)
    return f"[{body}]"


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document writing-system profile: the character count of each
    major Unicode script block (:data:`SCRIPT_RANGES`), the dominant
    script, and its share of the text — the standard companion signal
    to n-gram language ID (:func:`detect_language` covers Latin-script
    languages; a CJK/Cyrillic/Arabic page is identified by script long
    before any stopword fires) and the cheapest mojibake/binary-noise
    detector (a page whose characters sit in NO major script is
    garbage with high probability).

    Output: ``id_col, n_chars`` plus one ``{script}_chars`` count per
    script, ``script_chars`` (total across scripts),
    ``dominant_script`` (the max-count script, ties broken by
    :data:`SCRIPT_RANGES` order; ``'none'`` when no script character
    occurs), and ``dominant_frac`` (dominant count / ``n_chars``, 0.0
    for empty text).  NULL text behaves as empty.  Counts are code
    points, exact and engine-portable.

    Scale shape: one codegen map stage — ``regexp_count`` per script
    over a narrow projection, no shuffle, no Python, no UDF; the cost
    at 100 TB is the parquet scan.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(text, F.lit(script_char_class(ranges)))
        .cast("bigint")
        .alias(f"{name}_chars")
        for name, ranges in SCRIPT_RANGES
    }
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.length(text).cast("bigint").alias("n_chars"),
        *counts.values(),
    )
    names = [name for name, _ in SCRIPT_RANGES]
    mx = F.greatest(*[F.col(f"{n}_chars") for n in names])
    total = None
    for n in names:
        c = F.col(f"{n}_chars")
        total = c if total is None else total + c
    dominant = None
    for n in names:  # first max in precedence order wins
        cond = (mx > 0) & (F.col(f"{n}_chars") == mx)
        dominant = (
            F.when(cond, F.lit(n))
            if dominant is None
            else dominant.when(cond, F.lit(n))
        )
    dominant = dominant.otherwise(F.lit("none"))
    return staged.select(
        F.col(id_col),
        F.col("n_chars"),
        *[F.col(f"{n}_chars") for n in names],
        total.alias("script_chars"),
        dominant.alias("dominant_script"),
        F.when(
            F.col("n_chars") > 0, mx.cast("double") / F.col("n_chars")
        )
        .otherwise(F.lit(0.0))
        .alias("dominant_frac"),
    )


# 1:1 Latin diacritic folding table for normalize_text.  translate()
# is 1:1 by construction — multi-char folds (æ→ae, œ→oe, ß→ss) are out
# of scope and documented; the table covers Latin-1 Supplement + Latin
# Extended-A, the ranges that dominate European-language crawls.  The
# published table holds lowercase pairs; the UPPERCASE counterparts
# (À→A, …) are derived below so `lower=False` still folds
# case-preservingly — without them 'Éclair' and 'éclair' would
# normalize to different diacritic states under a case-sensitive key.
_FOLD_PAIRS: tuple[tuple[str, str], ...] = (
    ("a", "àáâãäåāăą"),
    ("c", "çćĉċč"),
    ("d", "ďđ"),
    ("e", "èéêëēĕėęě"),
    ("g", "ĝğġģ"),
    ("h", "ĥħ"),
    ("i", "ìíîïĩīĭįı"),
    ("j", "ĵ"),
    ("k", "ķ"),
    ("l", "ĺļľŀł"),
    ("n", "ñńņňŋ"),
    ("o", "òóôõöøōŏő"),
    ("r", "ŕŗř"),
    ("s", "śŝşš"),
    ("t", "ţťŧ"),
    ("u", "ùúûüũūŭůűų"),
    ("w", "ŵ"),
    ("y", "ýÿŷ"),
    ("z", "źżž"),
)
# uppercase twins: every source uppercases to a single BMP char not
# already in the lowercase table (ı→I, ÿ→Ÿ), so the derived table
# stays 1:1 and duplicate-free (both pinned by tests)
_FOLD_PAIRS_UPPER: tuple[tuple[str, str], ...] = tuple(
    (dst.upper(), "".join(c.upper() for c in srcs))
    for dst, srcs in _FOLD_PAIRS
)
FOLD_FROM = "".join(
    src
    for _, srcs in (*_FOLD_PAIRS, *_FOLD_PAIRS_UPPER)
    for src in srcs
)
FOLD_TO = "".join(
    dst * len(srcs) for dst, srcs in (*_FOLD_PAIRS, *_FOLD_PAIRS_UPPER)
)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    lower: bool = True,
    fold_diacritics: bool = True,
    strip_punct: bool = False,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Deduplication-grade text normalization — the canonical pre-pass
    every published dedup recipe applies before hashing (FineWeb/Dolma
    MinHash normalization: lowercase, strip accents, drop punctuation,
    collapse whitespace).  Composes with :func:`~.dedup.exact_dedup`,
    MinHash/SimHash, and :func:`~.dedup.remove_duplicated_spans` by
    feeding them ``out_col`` instead of the raw text.

    Steps, in order, each toggleable: lowercase; 1:1 Latin diacritic
    folding (:data:`FOLD_FROM` → :data:`FOLD_TO` via ``translate`` —
    both cases fold, case-preservingly (É→E), so ``lower=False`` still
    normalizes consistently; multi-char folds like æ→ae are documented
    out of scope); ASCII
    punctuation removal (the ``!-/ :-@ [-` {-~`` ranges — explicit
    byte ranges rather than ``\\p{Punct}`` so the regex means the same
    thing in any engine); whitespace collapse to single spaces plus
    trim.  NULL text stays NULL (the row keeps its "no text" meaning;
    downstream dedup keys already handle NULL).

    Scale shape: one codegen map stage — ``lower``/``translate`` and
    two ``regexp_replace`` over a narrow projection; no shuffle, no
    Python.  At 100 TB this is priced at the parquet scan, which is
    why the published pipelines run it fused into the first read.
    """
    text: Column = F.col(text_col)
    if lower:
        text = F.lower(text)
    if fold_diacritics:
        text = F.translate(text, FOLD_FROM, FOLD_TO)
    if strip_punct:
        text = F.regexp_replace(text, r"[!-/:-@\[-`{-~]", "")
    if collapse_whitespace:
        text = F.trim(F.regexp_replace(text, r"\s+", " "))
    return df.withColumn(out_col, text)


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_col: str = "token",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary table —
    the tokenizer-fit metric: how much of each document a fixed vocab
    (:func:`vocabulary` output, or your tokenizer's token list) fails
    to cover.  High OOV flags domain mismatch, mojibake, or the wrong
    tokenizer for the corpus slice.

    Tokens are the engine's normalized whitespace tokens; ``vocab``'s
    ``vocab_col`` is matched exactly (normalize it the same way).
    Output: ``id_col, n_tokens, n_in_vocab, oov_rate`` with
    ``oov_rate = 1 − n_in_vocab/n_tokens`` (0.0 for empty/NULL text —
    nothing is out of vocabulary in an empty document; integer counts
    ride along so the rate re-derives exactly).

    Scale shape: explode → broadcast LEFT join on the token string
    (the vocab is model-sized — 32k-256k rows — always broadcastable)
    → per-doc count aggregation: ONE corpus shuffle of slim
    ``(id, partial counts)`` rows, map-side combined.  The corpus text
    never shuffles.  ``explode_outer`` keeps zero-token documents in
    the output.
    """
    from .sampling import _fresh_name

    tok_col = _fresh_name("__tok", df.columns)
    hit_col = _fresh_name("__in_vocab", df.columns)
    toks = normalized_tokens(F.coalesce(F.col(text_col), F.lit("")))
    exploded = ensure_parallelism(df).select(
        F.col(id_col), F.explode_outer(toks).alias(tok_col)
    )
    v = (
        vocab.select(F.col(vocab_col).cast("string").alias(tok_col))
        .where(F.col(tok_col).isNotNull())
        .distinct()
        .withColumn(hit_col, F.lit(True))
    )
    joined = exploded.join(F.broadcast(v), tok_col, "left")
    counted = joined.groupBy(id_col).agg(
        F.count(F.col(tok_col)).alias("n_tokens"),
        F.count(F.col(hit_col)).alias("n_in_vocab"),
    )
    return counted.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_in_vocab"),
        F.when(
            F.col("n_tokens") > 0,
            F.lit(1.0)
            - F.col("n_in_vocab").cast("double")
            / F.col("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("oov_rate"),
    )
