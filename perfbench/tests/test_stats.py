"""Percentile rule and metric names."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import metrics, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: letters, digits, ``_``, ``.`` and ``-``, starting with a letter or digit,
#: at most 64 long
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_tail_needs_eleven_samples(n):
    t = stats.tail([float(i) for i in range(n)])
    assert t == {"value": None, "pct": None, "n": n}


@pytest.mark.parametrize("n, index, pct", [
    (11, 0, 9.09),     # ten samples beyond the smallest
    (20, 9, 50.0),     # p50 of 20
    (100, 89, 90.0),   # p90 of 100
    (1000, 989, 99.0),  # p99 of 1000
])
def test_tail_leaves_ten_samples_beyond(n, index, pct):
    values = [float(i) for i in range(n)]
    t = stats.tail(list(reversed(values)))  # order of the input does not matter
    assert t["value"] == values[index]
    assert t["pct"] == pct
    assert t["n"] == n
    assert sum(v > t["value"] for v in values) == 10


def test_metric_names_are_valid_and_unique():
    names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
    assert [n for n in names if not METRIC_NAME.fullmatch(n)] == []
    assert len(names) == len(set(names))
    for bad in ("has space", "", "_lead", "x" * 65):
        assert not METRIC_NAME.fullmatch(bad)


def test_benchmark_json_lists_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_process_tree_cpu_and_memory_are_read_from_proc():
    before = stats.cpu_seconds()
    while stats.cpu_seconds() < before + 0.2:  # reading /proc itself burns CPU
        pass
    assert stats.cpu_seconds() >= before + 0.2
    assert os.getpid() in stats.descendants(os.getpid())
    assert stats.peak_rss_mb() > 1.0
