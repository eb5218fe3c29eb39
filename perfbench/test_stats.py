"""Self-tests of the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    check_metric,
    percentile,
    self_times,
    spread,
    tail,
    tail_percentile,
    validate_benchmark,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))  # 1..100
    assert percentile(v, 50) == 50
    assert percentile(v, 90) == 90
    assert percentile(v, 99.9) == 100
    assert percentile([7.0], 50) == 7.0
    assert percentile([3, 1, 2], 100) == 3


@pytest.mark.parametrize(
    "n,want",
    [
        (19, None),  # p50 leaves only 9 beyond
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_reports_value_percentile_and_count():
    v = [float(x) for x in range(1, 101)]
    assert tail(v) == (90.0, 90.0, 100)
    assert tail(v[:10]) is None
    # exactly ten samples lie beyond the reported value
    value, _, n = tail(v[:40])
    assert sum(1 for x in v[:40] if x > value) == 10


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # spills past parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))  # [1,6] and [9,10] covered
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)
    # self times of a tree never exceed the root's wall
    assert sum(v for k, v in st.items() if k != 4) <= 10 + 1e-9


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 5) == 0.0
    v = [9.0, 10.0, 10.0, 10.0, 11.0]
    q = spread(v)
    assert 0 < q < 0.2


@pytest.mark.parametrize("name", ["setup_s", "apply_ms.p50", "lake.merge_s", "a", "9x"])
def test_metric_names_accepted(name):
    check_metric(name, "ms")


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "x" * 65, "a/b"])
def test_metric_names_refused(name):
    with pytest.raises(ValueError):
        check_metric(name, "ms")


@pytest.mark.parametrize("unit", ["ms", "s", "1/s", "count", "%", "B", "ratio"])
def test_units_accepted(unit):
    check_metric("m", unit)


@pytest.mark.parametrize("unit", ["", "m s", "x" * 17, "µs"])
def test_units_refused(unit):
    with pytest.raises(ValueError):
        check_metric("m", unit)


def _bench() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def test_repo_benchmark_json_is_valid():
    validate_benchmark(_bench())


def test_benchmark_json_lists_every_layer_metric():
    """The runner prints exactly the per-layer names BENCHMARK.json lists
    (read from the source text: importing workloads needs the engine)."""
    with open(os.path.join(HERE, "workloads.py")) as f:
        src = f.read()
    block = src.split("LAYER_METRICS = {", 1)[1].split("}", 1)[0]
    names = [line.split('"')[1] for line in block.splitlines() if '"' in line]
    assert names == [m["name"] for m in _bench()["per_layer"]]


@pytest.mark.parametrize(
    "mutate",
    [
        lambda d: d.pop("paths"),
        lambda d: d.update(extra=1),
        lambda d: d.update(run_seconds=61),
        lambda d: d.update(run_seconds=2.5),
        lambda d: d.update(command=["python3", "/abs/run.py"]),
        lambda d: d.update(paths=["../out"]),
        lambda d: d.update(workloads=d["workloads"][:1]),
        lambda d: d["workloads"][0].update(why="two\nlines"),
        lambda d: d["end_to_end"][0].update(bound=0.3),
        lambda d: d["end_to_end"].pop(0),  # setup_s removed
        lambda d: d["end_to_end"].append(dict(d["end_to_end"][1])),  # duplicate
        lambda d: d["per_layer"][0].update(bound=0.1),
        lambda d: d["per_layer"][0].update(better="up"),
    ],
)
def test_benchmark_json_schema_refuses(mutate):
    d = copy.deepcopy(_bench())
    mutate(d)
    with pytest.raises(ValueError):
        validate_benchmark(d)
