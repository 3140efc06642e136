"""Metric names, units and what each layer metric should move.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests keep the two in step. ``README.md`` here says which
end-to-end figure each layer metric should move, and on which workload.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

WORKLOADS = ("analytics", "lakehouse")

#: (name, unit, better, bound). Every workload reports all of them with
#: the same meaning. An op is one timed public call — one registered
#: operator (analytics); one pipeline load, export, append, merge, read or
#: compaction (lakehouse) — and its kind is which operator, load or call
#: it is. ``cpu_s_per_op`` is the CPU time of the driver, the JVM and
#: their children over the loop, divided by the ops completed. It is the
#: op cost the result line carries instead of wall latency: the kernel
#: charges a process CPU time only while its vCPU runs, so the time the
#: hypervisor steals for other guests, which moved wall latency by tens of
#: percent between runs minutes apart, stays out of it. Wall latency
#: (``op_geomean_s``, the geometric mean over kinds of each kind's median
#: latency, and ``ops_per_s``) is on the detail line.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("cpu_s_per_op", "s", "lower", 0.25),
)

OPERATOR_MODULES = (
    "analytics", "tpch", "relational", "timeseries", "scale", "dedup",
    "similarity", "text", "graph", "pipeline", "events",
)
SNAPSHOT_FNS = (
    "commit_snapshot", "commit_append_ref", "merge_into.mor", "merge_into.cow",
    "read_ref", "compact_mor", "commit_snapshot_ref",
)
LOADER_FNS = (
    "csv_to_table_pipeline", "read_csv", "csv_sample_has_embedded_newlines",
    "create_or_replace_table",
)
EXPORT_FNS = ("export_csv", "export_parquet")
STREAM_FIELDS = (
    ("triggers", "count", "lower"),
    ("trigger_s", "s", "lower"),
    ("add_batch_s", "s", "lower"),
    ("wal_commit_s", "s", "lower"),
    ("commit_offsets_s", "s", "lower"),
    ("latest_offset_s", "s", "lower"),
    ("query_planning_s", "s", "lower"),
    ("input_rows", "count", "higher"),
)


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "count"


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every traced metric. Layer values are
    totals per pass of the workload's loop (0 where a workload does not
    reach the layer)."""
    out = [
        ("session.get_spark_s", "s", "lower"),
        ("registry.all_queries_s", "s", "lower"),
        ("setup.warmup_s", "s", "lower"),
        ("setup.generate_s", "s", "lower"),
    ]
    for m in OPERATOR_MODULES:
        for f in ("wall_s", "driver_s", "executor_run_s", "tasks", "shuffle_mb"):
            out.append((f"operators.{m}.{f}", _unit(f), "lower"))
    for fn in SNAPSHOT_FNS:
        for f in ("wall_s", "self_s", "driver_s", "jobs"):
            out.append((f"snapshots.{fn}.{f}", _unit(f), "lower"))
    out += [
        ("snapshots.mor_debt", "count", "lower"),
        ("snapshots.bytes_written_mb", "MB", "lower"),
        ("snapshots.log_bytes", "bytes", "lower"),
        ("snapshots.dirs", "count", "lower"),
    ]
    for fn in LOADER_FNS:
        for f in ("wall_s", "self_s", "jobs"):
            out.append((f"loader.{fn}.{f}", _unit(f), "lower"))
    for fn in EXPORT_FNS:
        for f in ("wall_s", "jobs"):
            out.append((f"export.{fn}.{f}", _unit(f), "lower"))
    out += [(f"stream.{f}", u, b) for f, u, b in STREAM_FIELDS]
    out += [
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("host.cpu_util", "fraction", "higher"),
        # Tracing cost: status-store reads after each op (outside the op's
        # timing), and the traced run's own op_geomean_s to set against the
        # untraced one.
        ("trace.collect_s", "s", "lower"),
        ("trace.op_geomean_s", "s", "lower"),
    ]
    return out


def reached(workload: str) -> list[str]:
    """Per-layer metrics a traced run of ``workload`` must show above 0:
    the layers the workload is meant to exercise. A run where one reads 0
    fails its check, so a layer that silently stops being measured shows."""
    out = [
        "session.get_spark_s", "registry.all_queries_s", "setup.warmup_s", "setup.generate_s",
        "spark.jobs", "spark.stages", "host.cpu_util", "trace.collect_s", "trace.op_geomean_s",
    ]
    if workload == "analytics":
        out += [f"operators.{m}.{f}" for m in OPERATOR_MODULES
                for f in ("wall_s", "driver_s", "executor_run_s", "tasks")]
        out += [f"stream.{f}" for f in ("triggers", "trigger_s", "add_batch_s", "input_rows")]
    else:
        out += [f"snapshots.{fn}.{f}" for fn in SNAPSHOT_FNS if fn != "commit_snapshot"
                for f in ("wall_s", "self_s", "driver_s", "jobs")]
        out += [f"snapshots.{g}" for g in ("mor_debt", "bytes_written_mb", "log_bytes", "dirs")]
        out += [f"loader.{fn}.{f}" for fn in LOADER_FNS for f in ("wall_s", "self_s", "jobs")
                if f"{fn}.{f}" != "csv_sample_has_embedded_newlines.jobs"]  # a file read, no Spark job
        out += [f"export.{fn}.{f}" for fn in EXPORT_FNS for f in ("wall_s", "jobs")]
    return out
