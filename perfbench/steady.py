"""Steadiness mode: repeat each workload over several seeds and report,
per metric, the median, the quartiles and the run-to-run spread (the
inter-quartile range as a share of the median), which is what the
regression bounds in BENCHMARK.json are set from.

    python3 perfbench/steady.py --workloads analytics,lakehouse --runs 10 --trace 0,1

With both trace modes it also reports tracing overhead: the traced runs'
``trace.op_geomean_s`` against the untraced runs' ``op_geomean_s``. The untraced
runs' op latencies are pooled to give the tail percentile that a single
run has too few samples for. A JSON copy goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics, stats  # noqa: E402

RUN_TIMEOUT_S = 180


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One ``run.py`` process; returns its parsed stdout lines."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines() if x.startswith("{")]
    out = {"wall_s": wall}
    for ln in lines:
        out.update(ln if "correct" not in ln else {"result": ln})
    return out


def summarize(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0] if values else None}
    return stats.spread(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(metrics.WORKLOADS))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", default="0", help="comma list of trace modes, e.g. 0,1")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workloads.split(",")
    modes = [int(x) for x in args.trace.split(",")]

    runs: dict[tuple[str, int], list[dict]] = {(w, t): [] for w in workloads for t in modes}
    for i in range(args.runs):
        seed = args.first_seed + i
        for w in workloads:
            for t in modes:
                r = run_once(w, seed, seconds, t)
                runs[(w, t)].append(r)
                res = r["result"]
                print(f"# {w} trace={t} seed={seed} wall={r['wall_s']:.1f}s correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      f"steal={r['label']['steal_share']:.3f}", file=sys.stderr, flush=True)

    report: dict = {"seconds": seconds, "runs": args.runs, "workloads": {}}
    worst_wall = {}
    for w in workloads:
        rep: dict = {}
        if 0 in modes:
            rs = runs[(w, 0)]
            rep["end_to_end"] = {}
            for name in bounds:
                s = summarize([r["result"]["metrics"][name]["value"] for r in rs])
                s["bound"] = bounds[name]
                rep["end_to_end"][name] = s
            names = rs[0]["detail"].keys()
            rep["detail"] = {
                n: summarize([r["detail"][n]["value"] for r in rs if r["detail"][n]["value"] is not None])
                for n in names
            }
            pooled = [x for r in rs for x in r["label"]["op_latencies"]]
            t = stats.tail(pooled)
            rep["pooled_tail"] = {"samples": len(pooled), "percentile": t[0], "value_s": t[1]} if t else None
            rep["all_correct"] = all(r["result"]["correct"] for r in rs)
        if 1 in modes:
            rs = runs[(w, 1)]
            rep["per_layer_median"] = {
                n: statistics.median(r["result"]["metrics"][n]["value"] for r in rs)
                for n, _, _ in metrics.per_layer()
            }
            rep["all_correct_traced"] = all(r["result"]["correct"] for r in rs)
        if 0 in modes and 1 in modes:
            base = rep["detail"]["op_geomean_s"]["median"]
            rep["tracing_overhead"] = rep["per_layer_median"]["trace.op_geomean_s"] / base - 1.0
        rep["wall_s"] = {t: summarize([r["wall_s"] for r in runs[(w, t)]]) for t in modes}
        rep["runs"] = {t: runs[(w, t)] for t in modes}
        worst_wall[w] = max(r["wall_s"] for t in modes for r in runs[(w, t)])
        report["workloads"][w] = rep

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)

    for w, rep in report["workloads"].items():
        print(f"== {w}  (worst run wall {worst_wall[w]:.1f}s)")
        for name, s in rep.get("end_to_end", {}).items():
            if "q1" in s:
                flag = "ok" if s["spread"] < s["bound"] / 3 else ("within" if s["spread"] <= s["bound"] else "WIDE")
                print(f"  {name:14s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
                      f"spread {s['spread']:.3f}  bound {s['bound']}  {flag}")
        for name, s in rep.get("detail", {}).items():
            if "q1" in s:
                print(f"  [detail] {name:18s} median {s['median']:.4g}  spread {s['spread']:.3f}")
        if rep.get("pooled_tail"):
            pt = rep["pooled_tail"]
            print(f"  [pooled] op tail p{pt['percentile']:g} = {pt['value_s']:.4g}s over {pt['samples']} samples")
        if "tracing_overhead" in rep:
            print(f"  tracing overhead on op_geomean_s: {rep['tracing_overhead']:+.1%}")
    print(json.dumps({"report": os.path.relpath(path, ROOT)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
