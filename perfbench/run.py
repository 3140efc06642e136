"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (removed at exit). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it label the run (seed, host load,
``nproc``, fixture md5s) and give the workload's named figures. A traced
run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up time starts before the heavy imports

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import metrics  # noqa: E402
from perfbench.trace import ProgressListener, Tracer, span_metrics, task_skew, totals  # noqa: E402

WARMUP_THREADS = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _proc_status(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _cpu_seconds(pids: list[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def _csv_md5s(path: str) -> dict[str, dict]:
    """md5 of every CSV file in ``path``, as ``bench.fixture_fingerprints``
    labels parquet fixtures."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".csv"):
            with open(os.path.join(path, name), "rb") as f:
                out[name] = {"md5": hashlib.md5(f.read()).hexdigest()}
    return out


def _steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]  # user .. steal
    return ticks[7], sum(ticks)


def _stop_spark(spark) -> None:
    """Stop the session, shut the gateway down and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def install_wrappers(tracer: Tracer) -> None:
    """Spans around the package's public commit, loader and export calls."""
    from apache_iceberg_spark.catalog import snapshots
    from apache_iceberg_spark.ingest import loader
    from apache_iceberg_spark.io import export

    for fn in ("commit_snapshot", "commit_append_ref", "read_ref", "compact_mor", "commit_snapshot_ref"):
        tracer.wrap(snapshots, fn, lambda *a, _n=fn, **k: f"snapshots.{_n}")
    tracer.wrap(snapshots, "merge_into", lambda *a, **k: f"snapshots.merge_into.{k.get('strategy', 'cow')}")
    for fn in metrics.LOADER_FNS:
        tracer.wrap(loader, fn, lambda *a, _n=fn, **k: f"loader.{_n}")
    for fn in metrics.EXPORT_FNS:
        tracer.wrap(export, fn, lambda *a, _n=fn, **k: f"export.{_n}")


def layer_metrics(tracer, listener, progress_from, passes, setup, loop_s, cpu_s, ncpu, wl, ctx) -> dict:
    """Per-layer values per pass of the loop (set-up figures as measured)."""
    agg = span_metrics(tracer.spans)
    zero: dict = {}

    def per_pass(name: str, field: str) -> float:
        return agg.get(name, zero).get(field, 0) / passes

    out = {
        "session.get_spark_s": setup["get_spark_s"],
        "registry.all_queries_s": setup["all_queries_s"],
        "setup.warmup_s": setup["warmup_s"],
        "setup.generate_s": setup["generate_s"],
    }
    for m in metrics.OPERATOR_MODULES:
        for f in ("wall_s", "driver_s", "executor_run_s", "tasks", "shuffle_mb"):
            out[f"operators.{m}.{f}"] = per_pass(f"operators.{m}", f)
    for fn in metrics.SNAPSHOT_FNS:
        for f in ("wall_s", "self_s", "driver_s", "jobs"):
            out[f"snapshots.{fn}.{f}"] = per_pass(f"snapshots.{fn}", f)
    out.update({k: 0.0 for k in ("snapshots.mor_debt", "snapshots.bytes_written_mb",
                                 "snapshots.log_bytes", "snapshots.dirs")})
    for fn in metrics.LOADER_FNS:
        for f in ("wall_s", "self_s", "jobs"):
            out[f"loader.{fn}.{f}"] = per_pass(f"loader.{fn}", f)
    for fn in metrics.EXPORT_FNS:
        for f in ("wall_s", "jobs"):
            out[f"export.{fn}.{f}"] = per_pass(f"export.{fn}", f)
    progress = listener.progress[progress_from:]
    dur = {
        "trigger_s": "triggerExecution", "add_batch_s": "addBatch", "wal_commit_s": "walCommit",
        "commit_offsets_s": "commitOffsets", "latest_offset_s": "latestOffset",
        "query_planning_s": "queryPlanning",
    }
    out["stream.triggers"] = len(progress) / passes
    for k, key in dur.items():
        out[f"stream.{k}"] = sum(p["duration_ms"].get(key, 0) for p in progress) / 1000.0 / passes
    out["stream.input_rows"] = sum(p["input_rows"] for p in progress) / passes
    tot = totals(tracer.spans)
    out["spark.jobs"] = tot["jobs"] / passes
    out["spark.stages"] = tot["stages"] / passes
    out["spark.gc_s"] = tot["gc_s"] / passes
    out["spark.spill_mb"] = tot["spill_mb"] / passes
    out["spark.task_skew"] = task_skew(tracer.spans)
    out["host.cpu_util"] = cpu_s / (loop_s * ncpu)
    out["trace.collect_s"] = tracer.collect_s / passes
    out["trace.op_geomean_s"] = ctx.op_geomean()
    out.update(wl.layer(ctx))
    return out


def spark_cores(workload: str) -> int:
    """Cores the workload's Spark session runs on: its own cap, else all."""
    from perfbench.workloads import WORKLOADS

    ncpu = len(os.sched_getaffinity(0))
    return min(WORKLOADS[workload].cores or ncpu, ncpu)


def run(args, work: str) -> dict:
    import bench
    from perfbench.workloads import WORKLOADS, Context

    wl = WORKLOADS[args.workload]
    ncpu = len(os.sched_getaffinity(0))
    cores = spark_cores(args.workload)
    host_before = bench.host_conditions()
    steal_before = _steal_ticks()

    t = time.perf_counter()
    fixture_dirs = wl.generate(os.path.join(work, "inputs"), args.seed)
    generate_s = time.perf_counter() - t
    fixtures = {}
    for d in fixture_dirs:
        fixtures.update({f"{os.path.basename(d)}/{n}": fp for n, fp in bench.fixture_fingerprints(d).items()})
        fixtures.update({f"{os.path.basename(d)}/{n}": fp for n, fp in _csv_md5s(d).items()})

    t = time.perf_counter()
    from apache_iceberg_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cores,
        warehouse=os.path.join(work, "warehouse"),
        # A 1 GB heap bounds how far G1 grows the heap, so the JVM's peak RSS
        # depends less on when it chose to grow it.
        extra_conf={"spark.local.dir": os.path.join(work, "spark-local"), "spark.driver.memory": "1g"},
    )
    get_spark_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        from apache_iceberg_spark import registry

        registry.all_queries()
        all_queries_s = time.perf_counter() - t

        listener = ProgressListener()
        spark.streams.addListener(listener)
        tracer = Tracer(spark, enabled=False, listener=listener)
        ctx = Context(spark, tracer, listener, os.path.join(work, "inputs"), args.seed)
        t = time.perf_counter()
        # Warm-up tasks are independent (own tables and inputs) and run in
        # parallel: their cost is first-use JIT, class loading and Python
        # worker start, which overlap well.
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            for fut in [pool.submit(task) for task in wl.warm_up(ctx)]:
                fut.result()
        warmup_s = time.perf_counter() - t
        tracer.enabled = bool(args.trace)
        install_wrappers(tracer)
        t = time.perf_counter()
        wl.prepare(ctx)
        tracer.collect()
        prepare_s = time.perf_counter() - t
        setup_s = time.perf_counter() - _T0

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        progress_from = len(listener.progress)
        pids = _descendants(os.getpid())
        cpu0 = _cpu_seconds(pids)
        t_loop = time.perf_counter()
        passes = 0
        while True:
            t = time.perf_counter()
            wl.run_pass(ctx, passes)
            passes += 1
            if time.perf_counter() - t_loop + (time.perf_counter() - t) > args.seconds:
                break
        loop_s = time.perf_counter() - t_loop
        cpu_s = _cpu_seconds(_descendants(os.getpid())) - cpu0
        if not ctx.op_latency:
            raise RuntimeError(f"no operation succeeded: {ctx.problems[:3]}")

        tracer.enabled = False
        wl.verify(ctx)
        tracer.unwrap()
        detail = wl.detail(ctx, loop_s)
        peak_rss_mb = (_proc_status(os.getpid(), "VmHWM") + _proc_status(jvm_pid, "VmHWM")) / 1024.0
        setup = {
            "get_spark_s": get_spark_s,
            "all_queries_s": all_queries_s,
            "warmup_s": warmup_s,
            "generate_s": generate_s,
        }
        layers = trace_path = None
        if args.trace:
            layers = layer_metrics(tracer, listener, progress_from, passes, setup, loop_s, cpu_s, ncpu, wl, ctx)
            for name in metrics.reached(args.workload):
                ctx.check(layers[name] > 0, f"traced run: {name} is 0, but {args.workload} reaches that layer")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed, "passes": passes})
    finally:
        _stop_spark(spark)
    host_after = bench.host_conditions()
    steal_after = _steal_ticks()

    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "cpu_s_per_op": cpu_s / len(ctx.op_latency),
    }
    return {
        "label": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": ncpu,
            "spark_cores": cores,
            "load1_before": host_before.get("load1"),
            "load1_after": host_after.get("load1"),
            # CPU time the hypervisor gave to other guests during the run:
            # runs with a high share are slow for reasons outside the code.
            "steal_share": (steal_after[0] - steal_before[0]) / max(steal_after[1] - steal_before[1], 1),
            "passes": passes,
            "ops": len(ctx.op_latency),
            "op_latencies": ctx.op_latency,
            "loop_s": loop_s,
            "loop_cpu_s": cpu_s,
            "setup": {**setup, "prepare_s": prepare_s},
            "fixtures": fixtures,
        },
        "detail": {
            **{k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
            "error_rate": {"value": ctx.failed / max(ctx.attempted, 1), "unit": "ratio"},
            "op_geomean_s": {"value": ctx.op_geomean(), "unit": "s"},
            "ops_per_s": {"value": len(ctx.op_latency) / loop_s, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        },
        "problems": ctx.problems,
        "trace_file": trace_path,
        "result": {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": (
                {n: {"value": layers[n], "unit": u} for n, u, _ in metrics.per_layer()}
                if args.trace
                else {n: {"value": e2e[n], "unit": u} for n, u, _, _ in metrics.END_TO_END}
            ),
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Everything the run writes stays under the work directory.
    os.environ["TMPDIR"] = tmp
    # JVMs (the launcher and the driver): temp files under the work
    # directory, no hsperfdata file in the system temp directory, and no
    # more parallel GC threads than Spark has cores.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:ParallelGCThreads={spark_cores(args.workload)} -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SF_DIR"] = os.path.join(work, "inputs")
    tempfile.tempdir = tmp
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"label": out["label"]}))
    print(json.dumps({"detail": out["detail"], "problems": out["problems"][:20]}))
    if out["trace_file"]:
        print(json.dumps({"trace_file": os.path.relpath(out["trace_file"], ROOT)}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
