"""Declarative operator stages: a stage may declare ``operator:``
instead of ``query:`` and run a function of the operator library.

    stages:
      - name: near_dups
        operator:
          type: minhash_pairs
          input: documents
          options: {num_hashes: 16, bands: 4, shingle_n: 3}

The result registers under the stage name exactly like a SQL stage.

Adding an operator = an annotated function + one line in
:data:`OPERATORS` mapping the stage ``type`` to ``"module:function"``
(imported on first use).  The function's signature is the stage's
interface, read with ``inspect.signature`` and
``typing.get_type_hints``:

* every parameter is an option, converted by its annotation:
  ``bool`` takes ``true/false/yes/no/on/off/1/0`` (strings too);
  ``int``, ``float`` and ``str`` convert directly; ``Optional[...]``
  also takes ``none``/``null``/``""``; a union tries its members in
  order (``int | str`` takes ``"auto"``); a list, sequence or tuple
  takes a list or a comma/space-separated string; a dict or mapping
  takes a mapping; an unannotated parameter takes the value as given;
* a parameter typed ``DataFrame``, ``Optional[DataFrame]`` or
  ``list[DataFrame]`` takes table names: the first such parameter is
  the stage ``input``, the others are the options
  :func:`referenced_tables` reports (stage TTLs keep those views);
* the function's defaults are the stage's defaults, a parameter
  without one is required, and an option naming no parameter is
  rejected — all checked when the pipeline loads (:func:`bind`).

An :class:`Op` entry, or an adapter function in this module, is
warranted only where an option is more than a parameter: a YAML key
that differs from the parameter (``aliases``), a stage input that is
not the first table parameter (``input``), a YAML default Python
cannot express because a required parameter follows it
(``defaults``), or a stage that composes several functions or must
reject an option combination before running.  An adapter is bound
like any operator function; with ``forward`` its ``**kwargs`` go to
that function, whose parameters after the first are options too.
"""

from __future__ import annotations

import collections.abc as cabc
import importlib
import inspect
import types
import typing
from functools import lru_cache
from typing import Any, Callable, NamedTuple, Optional, Sequence, Union

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class OperatorError(ValueError):
    pass


class Op(NamedTuple):
    """A registry entry that is more than ``"module:function"``."""

    fn: Union[str, Callable[..., DataFrame]]
    # parameter the stage input binds (default: the first table parameter)
    input: Optional[str] = None
    # YAML option key -> parameter name (the parameter name works too)
    aliases: dict = {}
    # defaults for parameters Python must require (a required one follows)
    defaults: dict = {}
    # "module:function" an adapter's **kwargs are passed to
    forward: Optional[str] = None


def _load(fn: Union[str, Callable]) -> Callable:
    if callable(fn):
        return fn
    module, name = fn.split(":")
    return getattr(importlib.import_module(f"{__package__}.{module}"), name)


# ---------------------------------------------------------------------------
# Option conversion
# ---------------------------------------------------------------------------


def _to_bool(v: Any) -> bool:
    """Boolean option tolerant of string forms: YAML-templated or
    string-typed specs send 'false'/'no'/'0', and bool('false') is
    True — the silently-opposite-policy trap."""
    if isinstance(v, str):
        low = v.strip().lower()
        if low in ("true", "yes", "on", "1"):
            return True
        if low in ("false", "no", "off", "0"):
            return False
        raise ValueError(f"cannot parse {v!r} as a boolean")
    if isinstance(v, (bool, int)):
        return bool(v)
    raise TypeError(f"expected a boolean, got {v!r}")


def _to_str(v: Any) -> str:
    if isinstance(v, (str, int, float)) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"expected a string, got {v!r}")


def _is_none(v: Any) -> bool:
    return v is None or (
        isinstance(v, str) and v.strip().lower() in ("", "none", "null")
    )


def _converter(tp: Any) -> Callable[[Any], Any]:
    """Option value -> argument of annotation ``tp``; TypeError for an
    annotation no YAML value maps to."""
    if tp is Any:
        return lambda v: v
    if tp is bool:
        return _to_bool
    if tp in (int, float):
        return tp
    if tp is str:
        return _to_str
    origin, args = typing.get_origin(tp), typing.get_args(tp)
    if origin in (Union, types.UnionType):
        members = [a for a in args if a is not type(None)]
        convs = [_converter(a) for a in members]
        optional = len(members) < len(args)

        def union(v):
            if optional and _is_none(v):
                return None
            for conv in convs:
                try:
                    return conv(v)
                except (TypeError, ValueError):
                    pass
            raise ValueError(f"{v!r} is not a {tp}")

        return union
    if tp in (list, tuple) or origin in (list, tuple, cabc.Sequence):
        fixed = origin is tuple and args and args[-1] is not Ellipsis
        members = [a for a in args if a is not Ellipsis] or [Any]
        elems = [_converter(a) for a in members]

        def sequence(v):
            if isinstance(v, str):
                v = v.replace(",", " ").split()
            if not isinstance(v, (list, tuple)):
                raise TypeError(f"expected a list, got {v!r}")
            if fixed and len(v) != len(elems):
                raise ValueError(f"expected {len(elems)} values, got {v!r}")
            out = [elems[i if fixed else 0](x) for i, x in enumerate(v)]
            return tuple(out) if tp is tuple or origin is tuple else out

        return sequence
    if tp is dict or origin in (dict, cabc.Mapping):
        key, val = (_converter(a) for a in (args or (Any, Any)))

        def mapping(v):
            if not isinstance(v, dict):
                raise TypeError(f"expected a mapping, got {v!r}")
            return {key(k): val(x) for k, x in v.items()}

        return mapping
    raise TypeError(f"no YAML form for {tp!r}")


def _table_names(tp: Any) -> Any:
    """For a DataFrame, Optional[DataFrame] or list[DataFrame] parameter
    the annotation of the name(s) it binds until run_operator resolves
    them; None for any other parameter."""
    if tp is DataFrame:
        return str
    if DataFrame in typing.get_args(tp):
        return list[str] if typing.get_origin(tp) is list else Optional[str]
    return None


class _Param(NamedTuple):
    convert: Callable[[Any], Any]
    required: bool
    table: bool


class _Signature(NamedTuple):
    spec: Op
    input: str  # parameter the stage input binds
    params: dict  # option name -> _Param


def _parameters(fn: Callable) -> list[tuple[str, Any, bool]]:
    """(name, annotation, has default) of each named parameter."""
    hints = typing.get_type_hints(fn)
    return [
        (p.name, hints.get(p.name, Any), p.default is not p.empty)
        for p in inspect.signature(fn).parameters.values()
        if p.kind not in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
    ]


@lru_cache(maxsize=None)
def signature(op_type: str) -> _Signature:
    """How the options of operator ``op_type`` bind to its function."""
    spec = OPERATORS[op_type]
    if not isinstance(spec, Op):
        spec = Op(spec)
    found = _parameters(_load(spec.fn))
    if spec.forward:
        own = {name for name, _, _ in found}
        found += [
            p for p in _parameters(_load(spec.forward))[1:] if p[0] not in own
        ]
    params = {}
    for name, tp, has_default in found:
        names = _table_names(tp)
        required = not has_default and name not in spec.defaults
        params[name] = _Param(_converter(names or tp), required, names is not None)
    input_param = spec.input or next(n for n, p in params.items() if p.table)
    del params[input_param]
    return _Signature(spec, input_param, params)


def _yaml_name(spec: Op, param: str) -> str:
    """The YAML key documented for a parameter: its first string alias."""
    return next(
        (k for k, v in spec.aliases.items() if v == param and isinstance(k, str)),
        param,
    )


def bind(config: dict[str, Any]) -> dict[str, Any]:
    """Validate an ``operator:`` mapping and convert it to keyword
    arguments of its function; table parameters (the input among them)
    hold table names.  Needs no Spark session — pipelines call it when
    they load."""
    op_type = config.get("type")
    if not isinstance(op_type, str) or op_type not in OPERATORS:
        raise OperatorError(
            f"unknown operator type: {op_type!r} (available: {sorted(OPERATORS)})"
        )
    unknown = set(config) - {"type", "input", "options"}
    if unknown:
        # a misplaced option (url_col at top level instead of under
        # options:) would otherwise be silently ignored and the
        # operator would run with defaults
        raise OperatorError(
            f"operator '{op_type}': unknown keys {sorted(unknown)} — "
            "operator parameters go under 'options'"
        )
    if not config.get("input"):
        raise OperatorError(f"operator '{op_type}' requires an 'input' table name")
    spec, input_param, params = signature(op_type)
    options = config.get("options") or {}
    if not isinstance(options, dict):
        raise OperatorError(f"operator '{op_type}': options must be a mapping")
    kwargs = {input_param: str(config["input"])}
    for key, value in options.items():
        name = spec.aliases.get(key, key)
        if name not in params:
            accepted = set(params) | {k for k in spec.aliases if isinstance(k, str)}
            raise OperatorError(
                f"operator '{op_type}': unknown option {key!r} "
                f"(accepted: {sorted(accepted)})"
            )
        if name in kwargs:
            raise OperatorError(
                f"operator '{op_type}': option {key!r} repeats "
                f"options.{_yaml_name(spec, name)}"
            )
        try:
            kwargs[name] = params[name].convert(value)
        except (TypeError, ValueError) as exc:
            raise OperatorError(
                f"operator '{op_type}': option {key!r}: {exc}"
            ) from None
    for name, value in spec.defaults.items():
        kwargs.setdefault(name, value)
    for name, p in params.items():
        if p.required and name not in kwargs:
            raise OperatorError(
                f"{op_type} requires options.{_yaml_name(spec, name)}"
            )
    return kwargs


def run_operator(spark: SparkSession, config: dict[str, Any]) -> DataFrame:
    op_type = config.get("type")
    kwargs = bind(config)
    spec, input_param, params = signature(op_type)

    def table(param: str, name: str) -> DataFrame:
        try:
            return spark.table(name)
        except AnalysisException:
            what = (
                "input" if param == input_param
                else f"options.{_yaml_name(spec, param)}"
            )
            raise OperatorError(
                f"operator '{op_type}': {what} table '{name}' is not registered"
            ) from None

    for param, value in kwargs.items():
        if value is not None and (param == input_param or params[param].table):
            kwargs[param] = (
                [table(param, t) for t in value]
                if isinstance(value, list)
                else table(param, value)
            )
    return _load(spec.fn)(**kwargs)


def referenced_tables(config: dict[str, Any]) -> list[str]:
    """Table names an operator stage reads (for TTL bookkeeping)."""
    out = [str(config["input"])] if config.get("input") else []
    op_type = config.get("type")
    if not isinstance(op_type, str) or op_type not in OPERATORS:
        return out
    spec, _, params = signature(op_type)
    for key, value in (config.get("options") or {}).items():
        p = params.get(spec.aliases.get(key, key))
        if p is not None and p.table and not _is_none(value):
            names = p.convert(value)
            out += names if isinstance(names, list) else [names]
    return out


# ---------------------------------------------------------------------------
# Adapters: stages whose options are more than one function's parameters
# ---------------------------------------------------------------------------


def _fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    from .text import fingerprint

    return df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))


def _token_count(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    from .text import token_count

    return df.select(
        F.col(id_col), token_count(F.col(text_col)).cast("bigint").alias("n_tokens")
    )


def _dd_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    gamma: float = 1.02,
) -> DataFrame:
    from .sketch import dd_quantile, dd_sketch

    sketch = dd_sketch(df, group_cols, value_col, gamma=gamma)
    return dd_quantile(sketch, group_cols, quantiles, gamma=gamma)


def _cms_freq(
    df: DataFrame,
    items: DataFrame,
    value_col: str,
    item_col: Optional[str] = None,
    group_cols: Sequence[str] = (),
    width: int = 1024,
    depth: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Count-min sketch of ``df`` probed with the ``items`` table."""
    from .sketch import cms_estimate, cms_sketch

    sketch = cms_sketch(df, group_cols, value_col, width, depth, hash_fn)
    return cms_estimate(
        sketch, items, item_col or value_col, width, depth, group_cols, hash_fn
    )


def _bloom_prefilter(
    df: DataFrame,
    build: DataFrame,
    value_col: str,
    build_col: Optional[str] = None,
    num_bits: int = 8192,
    num_hashes: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Rows of ``df`` whose ``value_col`` may occur in the ``build`` table."""
    from .sketch import bloom_filter, bloom_sketch

    bits = bloom_sketch(build, build_col or value_col, num_bits, num_hashes, hash_fn)
    return bloom_filter(df, value_col, bits, num_bits, num_hashes, hash_fn)


def _rrf_fuse(df: DataFrame, others: list[DataFrame], **kw) -> DataFrame:
    """The stage input is the first ranked list, ``others`` the rest."""
    from .similarity import rrf_fuse

    return rrf_fuse([df, *others], **kw)


def _dsir_weights(
    df: DataFrame,
    target: Optional[DataFrame] = None,
    ratios: Optional[DataFrame] = None,
    **kw,
) -> DataFrame:
    from .selection import dsir_weights

    if (target is None) == (ratios is None):
        raise OperatorError(
            "dsir_weights requires exactly one of options.target (fit "
            "inline) or options.ratios (a pre-fitted dsir_log_ratios table)"
        )
    fit_only = sorted({"smoothing", "raw", "target_text_col"} & set(kw))
    if ratios is not None and fit_only:
        raise OperatorError(
            f"dsir_weights: options {fit_only} are fit-time parameters — "
            "they are baked into the pre-fitted options.ratios table; "
            "refit with dsir_log_ratios instead"
        )
    return dsir_weights(df, target, ratios=ratios, **kw)


def _pq_stage(target: str) -> Op:
    """A PQ stage trains its codebooks on the stage input
    (:func:`~.similarity.train_pq`) unless ``codebooks`` gives them."""

    def stage(
        corpus: DataFrame,
        codebooks: Optional[list[list[list[float]]]] = None,
        vec_col: str = "embedding",
        n_subspaces: int = 8,
        n_centroids: int = 16,
        sample_size: int = 4096,
        seed: int = 42,
        **kw,
    ) -> DataFrame:
        from .similarity import train_pq

        if codebooks is None:
            codebooks = train_pq(
                corpus, vec_col, n_subspaces, n_centroids, sample_size, seed=seed
            )
        return _load(target)(corpus, codebooks=codebooks, vec_col=vec_col, **kw)

    return Op(stage, forward=target)


def _bpe_stage(target: str) -> Op:
    """``byte_level: true`` defaults a BPE stage's end_marker to none
    (byte-level BPE has no word-end marker); an explicit marker still
    reaches the operator and raises its error."""

    def stage(df: DataFrame, byte_level: bool = False, **kw) -> DataFrame:
        if byte_level:
            kw.setdefault("end_marker", None)
        return _load(target)(df, byte_level=byte_level, **kw)

    return Op(stage, forward=target)


# YAML 1.1 reads a bare `on:` key as boolean True
_JOIN_KEY = {"key": "on", True: "on"}
_TS = {"left_ts": "ts", "right_ts": "ts"}
_NO_GROUPS = {"group_cols": ()}
_DOC_ID = {"id_col": "doc_id"}
_COLS = {"columns": "cols"}

OPERATORS: dict[str, Union[str, Op]] = {
    "exact_dedup": Op("dedup:exact_dedup", aliases=_COLS),
    "dup_weights": Op("dedup:dup_weights", aliases=_COLS),
    "minhash_bands": "dedup:minhash_bands",
    "minhash_signatures": "dedup:minhash_signatures",
    "fuzzy_filter_against": "dedup:fuzzy_filter_against",
    "minhash_pairs": "dedup:minhash_candidate_pairs",
    "fuzzy_dedup": "dedup:fuzzy_dedup",
    "jaccard_pairs": "dedup:jaccard_pairs",
    "simhash": "dedup:simhash",
    "hamming_pairs": "dedup:hamming_pairs",
    "hamming_filter": "dedup:hamming_filter",
    "simhash_wide": "dedup:simhash_wide",
    "hamming_pairs_wide": "dedup:hamming_pairs_wide",
    "hamming_filter_wide": "dedup:hamming_filter_wide",
    "perceptual_hash": "multimodal:perceptual_hash",
    "embed_neardup": "dedup:embedding_near_duplicates",
    "embed_neardup_lsh": "dedup:embedding_near_duplicates_lsh",
    "quality_score": "text:quality_score",
    "text_features": "text:text_features",
    "langid": "text:detect_language",
    "fingerprint": Op(_fingerprint),
    "token_count": Op(_token_count),
    "topk": "similarity:brute_force_topk",
    "quantized_topk": "similarity:quantized_topk",
    "pq_encode": _pq_stage("similarity:pq_encode"),
    "pq_topk": _pq_stage("similarity:pq_topk"),
    "ivfpq_topk": "similarity:ivfpq_topk",
    "lsh_topk": "similarity:lsh_topk",
    "ivf_topk": "similarity:ivf_topk",
    "hash_sample": Op("sampling:hash_sample", defaults=_DOC_ID),
    "weighted_sample": "sampling:weighted_sample",
    "stratified_sample": Op("sampling:stratified_sample", defaults=_DOC_ID),
    "split": Op("sampling:deterministic_split", defaults=_DOC_ID),
    "connected_components": "cluster:connected_components",
    "cluster_dedup": "cluster:cluster_dedup",
    "salted_join": Op("skew:salted_join", aliases={"right": "small", **_JOIN_KEY}),
    "asof_join": Op("temporal:asof_join", aliases=_JOIN_KEY, defaults=_TS),
    "range_join": Op("temporal:range_join", aliases=_JOIN_KEY, defaults=_TS),
    "time_rollup": Op("temporal:time_rollup", defaults={"ts_col": "ts"}),
    "kmv_distinct": Op("sketch:kmv_distinct", defaults=_NO_GROUPS),
    "corpus_overlap": Op("sketch:corpus_overlap", aliases={"other": "df_b"}),
    "hll_distinct": Op("sketch:hll_distinct", defaults=_NO_GROUPS),
    "dd_sketch": Op("sketch:dd_sketch", defaults=_NO_GROUPS),
    "dd_quantiles": Op(_dd_quantiles),
    "weighted_mix": "mixing:weighted_mix",
    "temperature_mix": "mixing:temperature_mix",
    "token_budget_mix": "mixing:token_budget_mix",
    "corpus_diff": Op("profile:corpus_diff", input="new", aliases={"old_table": "old"}),
    "pack_shards": "mixing:pack_shards",
    "shuffle_corpus": "mixing:shuffle_corpus",
    "corpus_offsets": "mixing:corpus_offsets",
    "sequence_spans": "mixing:sequence_spans",
    "shard_manifest": "mixing:shard_manifest",
    "contamination_report": "decontam:contamination_report",
    "skew_profile": "skew:key_skew_profile",
    "vocabulary": "text:vocabulary",
    "tfidf_top_terms": "text:tfidf_top_terms",
    "gopher_rules": "text:gopher_rules",
    "c4_rules": "text:c4_rules",
    "fineweb_rules": "text:fineweb_rules",
    "bm25": "text:bm25_scores",
    "rrf_fuse": Op(_rrf_fuse, forward="similarity:rrf_fuse"),
    "hybrid_topk": Op("similarity:hybrid_topk", aliases={"vectors": "corpus_vec"}),
    "repetition_features": "text:repetition_features",
    "chunk_documents": "text:chunk_documents",
    "luhn_cards": "text:luhn_cards",
    "bpe_pairs": _bpe_stage("text:bpe_pair_counts"),
    "bpe_encode": _bpe_stage("text:bpe_encode"),
    "bpe_vocab": _bpe_stage("text:bpe_vocab"),
    "tokens_to_ids": "text:tokens_to_ids",
    "tokenizer_fertility": _bpe_stage("text:tokenizer_fertility"),
    "redact_pii": "text:redact_pii",
    "strip_markup": "text:strip_markup",
    "normalize_text": "text:normalize_text",
    "oov_rate": "text:oov_rate",
    "drop_common_lines": "dedup:drop_common_lines",
    "stratified_fixed_n": Op("sampling:stratified_fixed_n", defaults=_DOC_ID),
    "group_cap": "sampling:group_cap",
    "ngram_overlap": "decontam:ngram_overlap",
    "remove_duplicated_spans": "dedup:remove_duplicated_spans",
    "unigram_logprob": "text:unigram_logprob",
    "kn_bigram_logprob": "text:kn_bigram_logprob",
    "kn_bigram_fit": "text:kn_bigram_fit",
    "kn_bigram_score": "text:kn_bigram_score",
    "kn_trigram_logprob": "text:kn_trigram_logprob",
    "kn_trigram_fit": "text:kn_trigram_fit",
    "kn_trigram_score": "text:kn_trigram_score",
    "profile_table": "profile:profile_table",
    "corpus_datacard": "profile:corpus_datacard",
    "bigram_logprob": "text:bigram_logprob",
    "quantize_embeddings": "embedding:quantize_embeddings",
    "label_centroids": "embedding:label_centroids",
    "linear_probe": "embedding:linear_probe_score",
    "decontaminate": "decontam:decontaminate",
    "fuzzy_decontaminate": "decontam:fuzzy_decontaminate",
    "fuzzy_decontam_rowwise": "decontam:fuzzy_decontaminate_rowwise",
    "minhash_overlap": "decontam:minhash_overlap",
    "byte_stats": "multimodal:byte_stats",
    "byte_histogram": "multimodal:byte_histogram_features",
    "url_parts": "web:url_parts",
    "url_dedup": "web:url_dedup",
    "url_blocklist": "web:url_blocklist",
    "registered_domain_psl": "web:registered_domain_psl",
    "perplexity_buckets": "selection:perplexity_buckets",
    "script_profile": "text:script_profile",
    "random_projection": "embedding:random_projection",
    "dsir_weights": Op(_dsir_weights, forward="selection:dsir_weights"),
    "nb_fit": "selection:nb_fit",
    "nb_classify": "selection:nb_classify",
    "dsir_log_ratios": Op("selection:dsir_log_ratios", input="raw"),
    "dsir_select": "selection:dsir_select",
    "semantic_dedup": "dedup:semantic_dedup",
    "domain_cap": "web:domain_cap",
    "dedup_against": Op("dedup:dedup_against", aliases={"corpus": "corpus_df", **_COLS}),
    "cms_sketch": Op("sketch:cms_sketch", defaults=_NO_GROUPS),
    "cms_freq": Op(_cms_freq),
    "bloom_prefilter": Op(_bloom_prefilter),
    "validate": "validate:validate_rules",
}
