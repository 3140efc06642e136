"""Round-17 optimization-round guards: each test pins an equivalence or
invariant an r17 performance rewrite relies on.

- `_read_dirs` multi-path grouping must keep additive schema evolution
  and type widening byte-identical to the old per-dir union.
- `_one_pass_update_delta` (the single target read behind SET-clause /
  conditional MoR merges) must reproduce the old inner ∪ anti pair
  row-for-row, including NULL-condition and multi-match target shapes.
- `_multiset_equal` must agree with two-directional exceptAll on
  duplicates, NULLs and near-miss bags.
- `_bounded_state` must refuse to narrow the session-global shuffle
  conf while another streaming query is active (VERDICT r16 #3).
"""

from __future__ import annotations

import os
import tempfile

import pytest

from apache_iceberg_spark.catalog.snapshots import (
    _one_pass_update_delta,
    commit_append,
    commit_snapshot,
    read_ref,
)
from apache_iceberg_spark.operators.scale import _multiset_equal


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_dirs_groups_same_schema_dirs(spark):
    """Same-schema dirs collapse into one multi-path scan; the frame is
    row-identical to the per-dir union, and the plan carries ONE scan
    relation instead of one per dir."""
    t = os.path.join(tempfile.mkdtemp(prefix="r17rd_"), "t")
    commit_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    for i in range(2, 5):
        commit_append(
            spark.createDataFrame([(i, "x" * i)], "k long, v string"), t
        )
    df = read_ref(spark, t, "main")
    assert _rows(df) == [(1, "a"), (2, "xx"), (3, "xxx"), (4, "xxxx")]
    # one grouped relation: no Union node in the optimized plan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan


def test_read_dirs_schema_evolution_still_unions(spark):
    """Dirs with divergent footers stay in their own groups: additive
    evolution fills NULLs, int->long widening applies — the old per-dir
    semantics exactly."""
    t = os.path.join(tempfile.mkdtemp(prefix="r17rd_"), "t")
    commit_snapshot(spark.createDataFrame([(1,)], "k int"), t)
    commit_append(spark.createDataFrame([(2, "b")], "k bigint, v string"), t)
    df = read_ref(spark, t, "main")
    assert dict(df.dtypes)["k"] == "bigint"
    assert _rows(df) == [(1, None), (2, "b")]


def _old_update_delta(target, source, on, update_set, cond, insert):
    """The pre-r17 two-branch delta, kept here as the equivalence
    reference: inner-join(condition) projection ∪ source-anti-target."""
    from pyspark.sql import functions as F

    from apache_iceberg_spark.catalog.snapshots import (
        _matched_join,
        _matched_projection,
    )

    joined = _matched_join(target, source, on)
    if cond is not None:
        joined = joined.filter(F.expr(cond))
    delta = joined.select(*_matched_projection(target.columns, on, update_set))
    if insert:
        delta = delta.unionByName(
            source.join(target.select(*on), on, "left_anti")
        )
    return delta


@pytest.mark.parametrize(
    "update_set,cond,insert",
    [
        (None, "source.v > target.v", True),
        (None, "source.v > target.v", False),
        ({"v": "target.v + source.v"}, None, True),
        ({"v": "target.v + source.v"}, None, False),
        ({"v": "source.v"}, "source.v % 2 = 0", True),
        # NULL-evaluating condition: clause semantics say "don't fire"
        (None, "CASE WHEN source.v > 10 THEN NULL ELSE true END", True),
    ],
)
def test_one_pass_update_delta_matches_two_branch(
    spark, update_set, cond, insert
):
    target = spark.createDataFrame(
        [(1, 10, "t1"), (2, 20, "t2"), (2, 21, "t2b"), (4, 40, "t4")],
        "k long, v long, tag string",
    )
    source = spark.createDataFrame(
        [(1, 99, "s1"), (2, 5, "s2"), (3, 30, "s3"), (5, 12, "s5")],
        "k long, v long, tag string",
    )
    new = _one_pass_update_delta(
        target, source, ["k"], update_set, cond, insert
    )
    old = _old_update_delta(target, source, ["k"], update_set, cond, insert)
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)


def test_multiset_equal_matches_exceptall(spark):
    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, None), (3, "z")], "k long, v string"
    )
    b_same = spark.createDataFrame(
        [(2, None), (1, "x"), (3, "z"), (1, "x")], "k long, v string"
    )
    # differs only in one row's MULTIPLICITY — set-equal, bag-different
    b_mult = spark.createDataFrame(
        [(2, None), (1, "x"), (3, "z")], "k long, v string"
    )
    for b, want in ((b_same, True), (b_mult, False)):
        assert _multiset_equal(a, b) is want
        assert (
            a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        ) is want


def test_bounded_state_refuses_concurrent_stream(spark, tmp_path):
    """VERDICT r16 #3: the bounded-state scope mutates the session-global
    shuffle conf; a second active stream must make it refuse instead of
    silently inheriting 1-2 partitions."""
    from apache_iceberg_spark.streaming.events import _bounded_state

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("memory")
        .queryName("r17_guard_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        before = spark.conf.get("spark.sql.shuffle.partitions")
        with pytest.raises(RuntimeError, match="refusing to narrow"):
            with _bounded_state(spark, 64):
                pass
        # and the conf was left untouched by the refusal
        assert before == spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        q.stop()
    # with no active stream the scope narrows and restores
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with _bounded_state(spark, 64):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
