"""The benchmark's own logic, without Spark: ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics

import pytest

from perfbench import gen, metrics, stats
from perfbench.trace import Span, span_metrics, totals
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digest_tree(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.md5(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_generators_repeat_per_seed_and_differ_across_seeds(tmp_path, workload):
    wl = WORKLOADS[workload]
    wl.generate(str(tmp_path / "a"), 7)
    wl.generate(str(tmp_path / "b"), 7)
    wl.generate(str(tmp_path / "c"), 8)
    a, b, c = (_digest_tree(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    changed = [k for k in a if a[k] != c[k] and "region" not in k and "nation" not in k]
    assert changed, "another seed must give other inputs"


def test_table_subset_equals_full_set():
    full = gen.make_tables(0.001, 3)
    part = gen.make_tables(0.001, 3, only=("orders", "events"))
    assert part["orders"].equals(full["orders"]) and part["events"].equals(full["events"])


def test_generated_tables_have_the_fixture_row_counts():
    rows = gen.table_rows(0.1)
    assert rows["lineitem"] == 600_000 and rows["orders"] == 150_000 and rows["customer"] == 15_000


@pytest.mark.parametrize(
    "n,p", [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
            (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (1000 - round(p * 10)) >= 10_000
        higher = [q for q in stats.TAIL_LADDER if q > p]
        assert all(n * (1000 - round(q * 10)) < 10_000 for q in higher)


def test_tail_value_is_that_percentile():
    xs = [float(i) for i in range(1, 41)]
    assert stats.tail(xs) == (75.0, stats.percentile(xs, 75.0))
    assert stats.tail(xs[:10]) is None
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5


@pytest.mark.parametrize(
    "intervals,length",
    [
        ([], 0.0),
        ([(0, 1)], 1.0),
        ([(0, 1), (2, 3)], 2.0),
        ([(0, 2), (1, 3)], 3.0),
        ([(0, 10), (2, 3), (4, 5)], 10.0),
        ([(5, 6), (0, 1), (0.5, 2)], 3.0),
        ([(1, 1), (3, 2)], 0.0),
        ([(0, 1), (1, 2)], 2.0),
    ],
)
def test_union_length(intervals, length):
    assert stats.union_length(intervals) == pytest.approx(length)


def test_self_time_subtracts_covered_children_only():
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (6, 7)]) == pytest.approx(6)
    assert stats.self_time(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(7)


def _job(start, end, run_ms=0, stage=0):
    return {"id": stage, "start": start, "end": end,
            "stages": [{"id": stage, "skipped": False, "tasks": 2, "run_ms": run_ms, "gc_ms": 0,
                        "shuffle_bytes": 0, "spill_bytes": 0, "skew": 2.0}]}


def test_span_metrics_driver_self_and_nesting():
    root = Span(id=1, name="op", parent=None, req=1, start=0.0, end=10.0, jobs=[_job(8, 9, 100, 1)])
    child = Span(id=2, name="snapshots.read_ref", parent=1, req=1, start=1.0, end=5.0,
                 jobs=[_job(2, 3, 200, 2), _job(2.5, 4, 300, 3)])
    agg = span_metrics([root, child])
    # driver: wall minus the union of the subtree's job intervals
    assert agg["op"]["driver_s"] == pytest.approx(10 - (2 + 1))
    assert agg["op"]["self_s"] == pytest.approx(6)
    assert agg["op"]["jobs"] == 3
    assert agg["op"]["executor_run_s"] == pytest.approx(0.6)
    assert agg["snapshots.read_ref"]["driver_s"] == pytest.approx(4 - 2)
    assert agg["snapshots.read_ref"]["self_s"] == pytest.approx(4)
    assert totals([root, child])["jobs"] == 3


def test_metric_names_are_valid_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    assert e2e == list(metrics.END_TO_END)
    layers = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert layers == metrics.per_layer()
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOADS) == sorted(WORKLOADS, key=metrics.WORKLOADS.index)
    names = [n for n, *_ in e2e] + [n for n, *_ in layers] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert metrics.NAME_RE.fullmatch(n) and re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    for _, unit, better, *_ in e2e + layers:
        assert UNIT_RE.fullmatch(unit) and better in ("lower", "higher")
    assert 1 <= len(spec["per_layer"]) <= 128 and 1 <= len(e2e) <= 16 and 2 <= len(spec["workloads"]) <= 8
    assert all(0 < b <= 0.25 for *_, b in e2e)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(b for *_, b in e2e)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert spec["paths"] == ["perfbench"] and spec["command"][1].startswith("perfbench/")


def test_spread_uses_statistics_quantiles():
    xs = [1.0, 2.0, 3.0, 4.0, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == {"median": 3.0, "q1": q1, "q3": q3, "spread": (q3 - q1) / 3.0}


@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_reached_layers_are_declared_per_layer_metrics(workload):
    names = {n for n, *_ in metrics.per_layer()}
    reached = metrics.reached(workload)
    assert reached and len(reached) == len(set(reached)) and set(reached) <= names


def test_every_pass_both_compacts_and_runs_a_cow_merge():
    from perfbench import workloads as w

    shapes = {w.CDC_COMPACT_CYCLE, w.CDC_COW_CYCLE, w.CDC_DELETE_CYCLE}
    assert len(shapes) == 3 and shapes <= set(range(w.CDC_CYCLES))
    assert "snapshots.compact_mor.wall_s" in metrics.reached("lakehouse")
    assert "snapshots.merge_into.cow.wall_s" in metrics.reached("lakehouse")


def test_change_feed_batches_have_the_micro_batch_size(tmp_path):
    import numpy as np

    from perfbench.workloads import CDC_BATCH, CDC_DELETE, CDC_UPSERT, ChangeFeed

    gen.write_tables(str(tmp_path), 0.01, 5, only=("orders",))
    feed = ChangeFeed(str(tmp_path), str(tmp_path / "t"), 5, 4, 1.0)
    n = len(feed.live)
    up, down = feed._sample(CDC_UPSERT), feed._sample(CDC_DELETE)
    for keys in (up, down):
        assert 0.9 * CDC_BATCH <= len(keys) <= CDC_BATCH
        assert np.isin(feed.hot, keys).all()  # hot keys recur in every merge
    assert (up >= n).sum() == round(CDC_BATCH * CDC_UPSERT[2]) and (down < n).all()
