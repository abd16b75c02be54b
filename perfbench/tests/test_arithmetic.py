"""Tests of the benchmark's own arithmetic; no Spark needed.

Run from the checkout root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from deltalog import read_log  # noqa: E402
from harvest import parse_metric  # noqa: E402
from metrics import (  # noqa: E402
    Span,
    bytes_written_per_input_byte,
    self_times,
    sibling_overlap,
    tail,
)


def span(i, start, end, parent=None, name="s", layer="l"):
    return Span(i, name, layer, start, end, parent, op=0)


# ------------------------------------------------------------- self time


def test_self_time_nested():
    # op [0,10] > a [1,6] > b [2,4];  op > c [7,9]
    spans = [span(0, 0, 10), span(1, 1, 6, 0), span(2, 2, 4, 1), span(3, 7, 9, 0)]
    own = self_times(spans)
    assert own == pytest.approx({0: 10 - 5 - 2, 1: 5 - 2, 2: 2, 3: 2})
    # no parallel spans: the self times add up to the wall time
    assert sibling_overlap(spans) == 0
    assert sum(own.values()) == pytest.approx(10)


def test_self_time_parallel_group():
    # a parallel group: p [0,10] runs x [1,7] and y [2,5] at once, and
    # x calls z [3,4]
    spans = [span(0, 0, 10), span(1, 1, 7, 0), span(2, 2, 5, 0), span(3, 3, 4, 1)]
    own = self_times(spans)
    # the parent is covered once by the union [1,7] of its children
    assert own[0] == pytest.approx(4)
    assert own[1] == pytest.approx(5)
    assert own[2] == pytest.approx(3)
    assert own[3] == pytest.approx(1)
    # x and y run at once for [2,5], so the self times count those 3 s
    # twice and sum past the wall time by exactly that
    assert sibling_overlap(spans) == pytest.approx(3)
    assert sum(own.values()) - 10 == pytest.approx(sibling_overlap(spans))


def test_child_outliving_parent_is_clipped():
    spans = [span(0, 0, 10), span(1, 2, 4, 0), span(2, 3, 12, 1)]
    own = self_times(spans)
    assert own[1] == pytest.approx(1)
    assert own[0] == pytest.approx(8)
    # the 8 s the child spends outside its parent break the sum, which
    # is how the traced run notices a span hung under the wrong parent
    assert sibling_overlap(spans) == 0
    assert sum(own.values()) - 10 == pytest.approx(8)


# ----------------------------------------------------------- percentiles


def test_tail_rule_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # n = 100
    p, v = tail(xs)
    assert (p, v) == (90.0, 90.0)
    assert sum(1 for x in xs if x > v) == 10


def test_tail_rule_order_free_and_n_dependent():
    xs = [float(i) for i in range(40, 0, -1)]  # n = 40, unsorted
    p, v = tail(xs)
    assert (p, v) == (75.0, 30.0)


def test_tail_rule_small_sample_reports_maximum():
    # up to 20 samples the rule's percentile would not be above the
    # median, so the maximum stands in for it
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail([float(i) for i in range(20)]) == (100.0, 19.0)
    p, v = tail([float(i) for i in range(21)])
    assert (p, v) == (pytest.approx(100 * 11 / 21), 10.0)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail([])


# ------------------------------------------------------------ byte ratio


def test_bytes_written_per_input_byte_sums_before_dividing():
    assert bytes_written_per_input_byte([100, 300], [1000, 1000]) == pytest.approx(0.2)
    # not the mean of per-operation ratios (0.5 and 0.1)
    assert bytes_written_per_input_byte([50, 100], [100, 1000]) == pytest.approx(150 / 1100)


def test_bytes_written_per_input_byte_rejects_empty_base():
    with pytest.raises(ValueError):
        bytes_written_per_input_byte([10], [0])


# ------------------------------------------------------------- delta log


def test_delta_log_counting():
    log = read_log(HERE / "fixtures" / "delta_log")
    assert log.version == 2
    assert [(c.files_added, c.files_removed) for c in log.commits] == [(2, 0), (3, 2), (1, 0)]
    assert [c.bytes_added for c in log.commits] == [300, 370, 70]
    assert sorted(log.live) == ["m=a/f2.parquet", "m=b/f3.parquet", "m=c/f 5.parquet", "m=c/f4.parquet"]
    assert log.live_counts == {0: 2, 1: 3, 2: 4}
    # the rewrite at v1 removed every file live before it
    assert log.commits[1].files_removed == log.live_counts[0]
    assert log.checkpoints == [1]
    # replay from the v1 checkpoint: its 3 live files + v2's 2 actions
    assert log.actions_to_replay() == 3 + 2


def test_delta_log_without_checkpoint_replays_everything(tmp_path):
    src = HERE / "fixtures" / "delta_log"
    for p in src.glob("*.json"):
        (tmp_path / p.name).write_text(p.read_text())
    log = read_log(tmp_path)
    assert log.checkpoints == []
    assert log.actions_to_replay() == 5 + 6 + 2


def test_missing_log_is_empty(tmp_path):
    log = read_log(tmp_path / "nope")
    assert log.version == -1 and not log.live and not log.commits


# ------------------------------------------------------- Spark SQL metrics


@pytest.mark.parametrize(
    "text,value",
    [
        ("25 ms", 0.025),
        ("total (min, med, max (stageId: taskId))\n8.9 s (2.1 s, 2.3 s, 2.3 s (stage 0.0: task 1))", 8.9),
        ("total (min, med, max (stageId: taskId))\n1408.0 B (352.0 B, 352.0 B, 352.0 B (stage 0.0: task 2))", 1408),
        ("1024.8 KiB", 1024.8 * 1024),
        ("1.5 min", 90.0),
        ("100,000", 100000),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
