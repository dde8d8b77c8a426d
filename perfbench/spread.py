"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json.

    python3 perfbench/spread.py --workload W --seeds 1,2,3,4,5
    python3 perfbench/spread.py --workload W --seeds 1,1 --trace 1
    python3 perfbench/spread.py --workload W --seeds 1,2,3 --overhead

Runs ``perfbench/run.py`` once per seed, one after another, and prints
for each end-to-end metric its median and the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, beside a third of the metric's bound. It stops with an
error when a run leaves any of its processes running.

``--trace 1`` instead checks that every Spark job, stage and task count
(``spark.*`` metrics in unit ``count``) repeats exactly across the runs
of each seed given more than once. ``--overhead`` runs
each seed untraced and traced and prints, per end-to-end metric, the
median of traced / untraced - 1: the cost of tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, trace: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    left = _leftovers()
    if left:
        raise SystemExit(f"run left processes running: {left}")
    last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    if out.returncode != 0 or not last.startswith("{"):
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (code {out.returncode})")
    return json.loads(last)


def _leftovers() -> list[str]:
    """Command lines of benchmark processes still running once a run has
    exited: its server, Spark's JVM and Python workers, prepare.py."""
    marks = ("mcp_local_rag_spark", "traced_serve.py", "prepare.py",
             "pyspark.daemon", "SparkSubmit")
    out = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                argv = fh.read().decode(errors="replace").split("\0")
            with open(f"/proc/{entry}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        prog = os.path.basename(argv[0])
        if (state != "Z" and prog.startswith(("python", "java"))
                and any(m in a for a in argv for m in marks)):
            out.append(" ".join(argv)[:120])
    return out


def _artifact(workload: str, seed: int, trace: int) -> dict:
    with open(os.path.join(
        ROOT, ".perfbench", "results", f"{workload}-seed{seed}-trace{trace}.json"
    )) as fh:
        return json.load(fh)["end_to_end"]


def overhead(workload: str, seeds: list[int], spec: dict) -> int:
    ratios: dict[str, list[float]] = {}
    for i, seed in enumerate(seeds):
        # alternate which side runs first
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            run_once(workload, seed, trace, spec["run_seconds"])
        plain, traced = _artifact(workload, seed, 0), _artifact(workload, seed, 1)
        for k, v in plain.items():
            ratios.setdefault(k, []).append(traced[k]["value"] / v["value"] - 1.0)
    for k, r in ratios.items():
        print(f"{k:<20} tracing overhead {statistics.median(r):+.3f}"
              f" (runs: {', '.join(f'{x:+.3f}' for x in r)})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seeds = [int(s) for s in args.seeds.split(",")]
    if args.overhead:
        return overhead(args.workload, seeds, spec)
    results = []
    for seed in seeds:
        r = run_once(args.workload, seed, args.trace, spec["run_seconds"])
        results.append((seed, r))
        print(f"# seed {seed}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        ), file=sys.stderr)
    ok = True
    if args.trace:
        by_seed: dict[int, list[dict]] = {}
        for seed, r in results:
            by_seed.setdefault(seed, []).append(r["metrics"])
        for seed, runs in by_seed.items():
            for k, v in runs[0].items():
                if not (k.startswith("spark.") and v["unit"] == "count"):
                    continue
                if any(m[k]["value"] != v["value"] for m in runs):
                    ok = False
                    print(f"seed {seed}: {k} differs: {[m[k]['value'] for m in runs]}")
        print("counts repeat" if ok else "counts differ")
        return 0 if ok else 1
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for _, r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        limit = m["bound"] / 3
        flag = "" if spread < limit else "  WIDE"
        ok = ok and (flag == "")
        print(f"{m['name']:<20} median {med:10.4f} {m['unit']:<4} spread"
              f" {spread:.3f} (bound/3 {limit:.3f}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
