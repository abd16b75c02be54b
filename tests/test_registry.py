"""Operator stages bind from their functions' signatures (Spark-free):
a new operator whose signature cannot bind fails here, not in a
user's pipeline."""

import inspect
import re

import pytest

from aqueducts_spark.operators.registry import (
    OPERATORS,
    OperatorError,
    _load,
    bind,
    signature,
)


@pytest.mark.parametrize("op_type", sorted(OPERATORS))
def test_every_operator_binds_from_its_signature(op_type):
    # signature() raises TypeError for an annotation no YAML value maps to
    sig = signature(op_type)
    try:
        kwargs = bind({"type": op_type, "input": "t"})
    except OperatorError as exc:
        assert re.fullmatch(rf"{op_type} requires options\.\w+", str(exc))
    else:
        assert kwargs == {sig.input: "t", **sig.spec.defaults}
    for param in sig.spec.aliases.values():
        assert param in sig.params
    # a default kept in the registry is one Python cannot hold: the
    # parameter has none and a required parameter follows it
    fn_params = list(inspect.signature(_load(sig.spec.fn)).parameters.values())
    names = [p.name for p in fn_params]
    for name in sig.spec.defaults:
        i = names.index(name)
        assert fn_params[i].default is inspect.Parameter.empty
        assert any(p.default is inspect.Parameter.empty for p in fn_params[i + 1:])


_REQUIRED = {
    "nb_classify": {"model": "m"},
    "ivfpq_topk": {"queries": "q"},
    "fuzzy_decontaminate": {"benchmark": "b"},
}


@pytest.mark.parametrize(
    "op_type,option",
    [
        ("nb_classify", "all_scores"),
        ("nb_classify", "cache_model"),
        ("ivfpq_topk", "by_residual"),
        ("bpe_encode", "byte_level"),
        ("fuzzy_decontaminate", "validate_ids"),
        ("semantic_dedup", "quantize"),
    ],
)
@pytest.mark.parametrize(
    "text,value", [("false", False), ("no", False), ("0", False), ("true", True)]
)
def test_boolean_strings_bind_to_booleans(op_type, option, text, value):
    options = {**_REQUIRED.get(op_type, {}), option: text}
    kwargs = bind({"type": op_type, "input": "t", "options": options})
    assert kwargs[option] is value


def test_bad_boolean_string_rejected():
    with pytest.raises(OperatorError, match="quantize"):
        bind({"type": "semantic_dedup", "input": "t", "options": {"quantize": "maybe"}})


def test_options_convert_by_annotation():
    kwargs = bind(
        {
            "type": "embed_neardup_lsh",
            "input": "t",
            "options": {"num_tables": "auto", "bits_per_table": "12", "seed": 7.0},
        }
    )
    assert (kwargs["num_tables"], kwargs["bits_per_table"], kwargs["seed"]) == (
        "auto", 12, 7
    )
    kwargs = bind(
        {
            "type": "corpus_offsets",
            "input": "t",
            "options": {"order_cols": "shuffle_key, doc_id", "token_col": "none"},
        }
    )
    assert kwargs["order_cols"] == ["shuffle_key", "doc_id"]
    assert kwargs["token_col"] is None
    kwargs = bind({"type": "perceptual_hash", "input": "t", "options": {"grid": [4, 4]}})
    assert kwargs["grid"] == (4, 4)
    with pytest.raises(OperatorError, match="num_hashes"):
        bind({"type": "minhash_pairs", "input": "t", "options": {"num_hashes": "many"}})


def test_aliases_and_yaml_on_key():
    kwargs = bind(
        {
            "type": "salted_join",
            "input": "big",
            # YAML 1.1 reads a bare `on:` key as boolean True
            "options": {"right": "small_t", True: "k"},
        }
    )
    assert kwargs == {"big": "big", "small": "small_t", "on": "k"}
    with pytest.raises(OperatorError, match="repeats options.columns"):
        bind(
            {
                "type": "exact_dedup",
                "input": "t",
                "options": {"columns": ["a"], "cols": ["b"]},
            }
        )
    with pytest.raises(OperatorError, match="salted_join requires options.key"):
        bind({"type": "salted_join", "input": "big", "options": {"right": "s"}})


def test_unknown_option_names_accepted_keys():
    with pytest.raises(OperatorError, match=r"unknown option 'txet_col'.*'text_col'"):
        bind({"type": "quality_score", "input": "t", "options": {"txet_col": "text"}})
