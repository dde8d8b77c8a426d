"""Smoke run of the benchmark on the tiny corpus.

    python3 perfbench/smoke.py

Runs every workload untraced and traced (``--scale tiny --seconds 2``)
and asserts that each run exits 0 with ``correct: true`` and prints
exactly the metrics BENCHMARK.json names, each with its unit; that the
traced runs show the expected paths (no Spark job on ``read_hot``, every
set-up and stale query on the Spark fallback in ``write_mix``); and that
the artifacts carry the client-side write figures and the stamps. Takes a
few minutes, most of it Spark start-up.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import SYNC_TIMED  # noqa: E402
from run import STALE_QUERIES  # noqa: E402

SYNC_METRICS = set(SYNC_TIMED.values())


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(
        ROOT, ".perfbench", "results", f"{workload}-seed3-trace{trace}.json"
    )) as fh:
        artifact = json.load(fh)
    return result, artifact


def check_metrics(result: dict, spec: list[dict], what: str, extra=()) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    got = {k: u for k, u in got.items() if k not in extra}
    assert got == want, f"{what}: metrics {got} != {want}"
    assert result["correct"] and result["failed"] == 0, f"{what}: {result}"
    assert result["attempted"] >= 1, what


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in [w["name"] for w in spec["workloads"]] + ["write_sync"]:
        result, artifact = run(w, 0)
        check_metrics(result, spec["end_to_end"], f"{w} untraced")
        cfg = artifact["config"]
        assert cfg["seed"] == 3 and cfg["SPARK_DRIVER_MEM"], cfg
        result, artifact = run(w, 1)
        # write_sync alone reports the sync layers
        extra = [k for k in result["metrics"] if w == "write_sync" and (
            k.startswith("spark.sync_") or k in SYNC_METRICS)]
        check_metrics(result, spec["per_layer"], f"{w} traced", extra)
        assert artifact["ambient_control"]["numpy_matmul_ms"] > 0, artifact
        m = {k: v["value"] for k, v in result["metrics"].items()}
        if w == "read_hot":
            assert m["spark.sidecar_read_jobs"] == 0, m
            assert m["server.path_spark"] == 0, m
        else:
            assert m["server.path_spark"] == 1 + STALE_QUERIES, m
            assert m["spark.query_jobs"] > 0 and m["spark.write_jobs"] > 0, m
            for k in ("ingest_p50_ms", "delete_p50_ms", "read_after_write_p50_ms"):
                assert artifact["client"][k] > 0, (k, artifact["client"])
        if w == "write_sync":
            assert artifact["client"]["resync_p50_ms"] > 0, artifact["client"]
            assert m["spark.sync_jobs"] > 0 and m["engine.sync_ms"] > 0, m
        print(f"ok {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
