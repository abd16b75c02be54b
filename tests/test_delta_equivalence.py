"""Differential test: the Delta-protocol table against a pure-Python
model of the reference semantics (aqueducts/delta/src/lib.rs).  Apply
random operation sequences to both and require identical visible state
— current rows AND every historical version — plus edge cases
(schemaless create, array-key upsert, interleaved writers).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from aqueducts_spark.delta.protocol import DeltaProtocolTable
from aqueducts_spark.types import Field

FIELDS = [
    Field(name="id", data_type="int64", nullable=False),
    Field(name="grp", data_type="string", nullable=True),
    Field(name="val", data_type="float64", nullable=True),
]


def _sorted(rows):
    return sorted(rows, key=lambda t: (t[0], t[1] is None, t[1] or "", t[2]))


def _rows(df):
    return _sorted((r.id, r.grp, r.val) for r in df.collect())


def _model(state, kind, rows, cond):
    """The table's rows (a multiset of ``(id, grp, val)``) after one
    operation, as the reference defines it."""
    if kind == "append":
        return state + rows
    if kind == "upsert":  # delete every matching row, insert every source row
        keys = {r[0] for r in rows}
        return [r for r in state if r[0] not in keys] + rows
    if kind == "replace":  # a row whose predicate is NULL stays
        hit = lambda r: all(r[1] is not None and r[1] == v for _, v in cond)
        return [r for r in state if not hit(r)] + rows
    return state  # compact is content-neutral


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, val double")


def _random_ops(seed: int, n_ops: int = 6):
    rng = random.Random(seed)
    ops = []
    next_id = 0
    for _ in range(n_ops):
        kind = rng.choice(["append", "append", "upsert", "replace", "compact"])
        if kind == "compact":
            # OPTIMIZE must be content-neutral at every point in history
            ops.append(("compact", [], None))
            continue
        rows = []
        for _ in range(rng.randint(1, 5)):
            if kind != "append" and next_id > 2 and rng.random() < 0.5:
                rid = rng.randrange(next_id)  # touch an existing id
            else:
                rid = next_id
                next_id += 1
            rows.append((rid, rng.choice(["a", "b", None]), round(rng.random() * 100, 2)))
        if kind == "replace":
            cond = [] if rng.random() < 0.3 else [("grp", rng.choice(["a", "b"]))]
            ops.append(("replace", rows, cond))
        elif kind == "upsert":
            # upsert sources must be key-unique per reference semantics
            uniq = {r[0]: r for r in rows}
            ops.append(("upsert", list(uniq.values()), None))
        else:
            ops.append(("append", rows, None))
    return ops


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_same_op_sequence_same_state_at_every_version(spark, tmp_path, seed):
    proto = DeltaProtocolTable(spark, str(tmp_path / f"proto{seed}"))
    proto.create_if_absent(FIELDS, [], {}, {})

    state: list = []
    versions = []  # (version, the model's rows at it)
    for kind, rows, cond in _random_ops(seed):
        if kind == "compact":
            if not proto.exists() or proto.latest_version() == 0:
                continue
            v = proto.compact()
        elif kind == "append":
            v = proto.append(_mkdf(spark, rows))
        elif kind == "upsert":
            v = proto.upsert(_mkdf(spark, rows), ["id"])
        else:
            v = proto.replace(_mkdf(spark, rows), cond)
        state = _model(state, kind, rows, cond)
        versions.append((v, _sorted(state)))
        assert _rows(proto.read()) == _sorted(state), (kind, rows, cond)

    # every historical snapshot agrees too
    for v, expected in versions:
        assert _rows(proto.read(version=v)) == expected


def test_schemaless_create_defers_to_first_append(spark, tmp_path):
    """A delta destination with no declared schema creates the table
    from the first written DataFrame, keeping the declared partition
    columns (the reference allows schema inference on create)."""
    t = DeltaProtocolTable(spark, str(tmp_path / "nos"))
    t.create_if_absent([], ["grp"], {"k": "v"}, {})
    assert not t.exists()
    t.append(_mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    assert t.exists()
    snap = t._snapshot()
    assert snap.partition_columns() == ["grp"]
    assert (snap.metadata.get("configuration") or {}).get("k") == "v"
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_upsert_with_array_keys_set_equality(spark, tmp_path):
    """List-typed merge keys compare as SETS (reference
    delta/src/lib.rs:266-284) on the protocol table too."""
    t = DeltaProtocolTable(spark, str(tmp_path / "arr"))
    df = spark.createDataFrame(
        [([1, 2], "first"), ([3], "third")], "ks array<bigint>, label string"
    )
    t.create_if_absent(
        [
            Field(name="ks", data_type="list<int64>", nullable=True),
            Field(name="label", data_type="string", nullable=True),
        ],
        [], {}, {},
    )
    t.append(df)
    # [2, 1] set-equals [1, 2] -> update, [4] is new -> insert
    upd = spark.createDataFrame(
        [([2, 1], "FIRST"), ([4], "fourth")], "ks array<bigint>, label string"
    )
    t.upsert(upd, keys=["ks"])
    got = sorted(
        (tuple(r.ks), r.label) for r in t.read().collect()
    )
    assert got == [((1,), "third") if False else ((2, 1), "FIRST"), ((3,), "third"), ((4,), "fourth")]


def test_interleaved_writers_retry_appends(spark, tmp_path):
    """Two independent table handles appending alternately: version
    numbers interleave without loss (put-if-absent commit + reload)."""
    loc = str(tmp_path / "race")
    a = DeltaProtocolTable(spark, loc)
    a.create_if_absent(FIELDS, [], {}, {})
    b = DeltaProtocolTable(spark, loc)
    for i in range(3):
        a.append(_mkdf(spark, [(i * 2, "a", 1.0)]))
        b.append(_mkdf(spark, [(i * 2 + 1, "b", 2.0)]))
    assert a.latest_version() == 6
    ids = sorted(r.id for r in a.read().collect())
    assert ids == [0, 1, 2, 3, 4, 5]


def test_replace_then_time_travel_preserves_old_rows(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "tt"))
    t.create_if_absent(FIELDS, [], {}, {})
    v1 = t.append(_mkdf(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.replace(_mkdf(spark, [(9, "a", 9.0)]), conditions=[("grp", "a")])
    assert _rows(t.read()) == [(2, "b", 2.0), (9, "a", 9.0)]
    assert _rows(t.read(version=v1)) == [(1, "a", 1.0), (2, "b", 2.0)]
    # empty conditions = full overwrite
    t.replace(_mkdf(spark, [(7, "c", 7.0)]), conditions=[])
    assert _rows(t.read()) == [(7, "c", 7.0)]
