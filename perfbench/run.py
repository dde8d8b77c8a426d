"""End-to-end benchmark of the MCP stdio server.

    python3 perfbench/run.py --workload read_hot|write_mix|write_sync \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Starts the real server, ``python -m mcp_local_rag_spark --table T serve``,
as a subprocess (with ``--trace 1``: the traced twin,
``perfbench/traced_serve.py``) and drives it over MCP stdio from this one
single-threaded process: a closed loop with one client, which is how an
MCP host uses the server. Every response is checked; a wrong answer, an
``isError`` result or a protocol error counts as a failed request.

Every query_documents is followed by a read_chunk_neighbors around its
top row with the tool's defaults (before=after=2), the use the tool's
description names. Workloads (inputs from ``perfbench/gen.py``, all from
``--seed``):

  read_hot   the server opens on a fresh index; queries and neighbor
             reads, all served by the pyarrow sidecars, no Spark job.
  write_mix  the server opens on a table whose postings index lags an
             un-optimized ingest: the set-up query and ``STALE_QUERIES``
             more take the Spark fallback; then the ``WRITES``
             (ingest_data / delete_file), each followed by the query that
             must see it; then sidecar reads.
  write_sync write_mix, then a seeded edit of the corpus files and a
             ``sync_start`` re-sync (not in BENCHMARK.json: too long for
             the run budget).

Set-up runs from spawning the server to its first answered query. The
timed window is, on read_hot, reads for ``--seconds`` after
``WARMUP_READS`` untimed ones. On write_mix it is the stale reads and the
writes, then ``WRITE_MIX_READS_PER_S`` x ``--seconds`` reads after
``WARMUP_READS`` untimed ones. ``requests_per_s`` is the requests in the
window over the time they took, so on write_mix it carries the cost of
the writes.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A fuller artifact, stamped with the
configuration and ambient denominators, goes to
``.perfbench/results/<workload>-seed<N>-trace<T>.json``. Exits 1 when any
check failed.

Every path the run writes is under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

from client import McpClient, become_subreaper, stop_session  # noqa: E402
from gen import (  # noqa: E402
    CORPUS_VARIANTS,
    SCALES,
    Generator,
    corpus_for,
    stale_source,
    write_corpus,
)

LIMIT = 10
# untimed reads before each timed batch: enough queries for the sidecar's
# term cache to hold the head of the query vocabulary (see gen.HEAD_WORDS)
WARMUP_READS = 200
# write_mix: Spark-fallback queries after the setup query, before any write
STALE_QUERIES = 1
# write_mix reads a fixed count, --seconds times this (about --seconds of
# reads on 4 cores), so the timed window holds a fixed mix of writes and
# reads: requests_per_s then moves in proportion to the host's speed.
# With reads for a fixed time, a slower host both lengthened the writes
# and cut the reads, and the quartile spread over five seeds was 0.32.
WRITE_MIX_READS_PER_S = 30
# write_mix writes, in order: ("ingest", i) or ("delete", i)
WRITES = [("ingest", 0), ("delete", 0)]
SYNC_POLL_S = 0.25
SYNC_TIMEOUT_S = 120.0
# the session factory defaults to 16g, more than many hosts have. A small
# fixed heap also keeps the JVM's share of server_rss_mb steady: with 4g
# its growth varied by up to 28% between runs of write_mix.
DRIVER_MEM = "1g"


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Run:
    def __init__(self, args):
        self.args = args
        self.scale = SCALES[args.scale]
        self.corpus_seed = args.seed % CORPUS_VARIANTS
        self.run_dir = os.path.join(WORK, "run")
        self.corpus_dir = os.path.join(self.run_dir, "corpus")
        self.attempted = 0
        self.failures: list[str] = []
        self.failed: set[int] = set()  # attempt numbers that failed a check
        self.lat: dict[str, list[float]] = {}
        self.setup_s: float | None = None
        self.rss_mb = 0.0
        # requests inside the timed window and the time they took
        self.timed_s = 0.0
        self.timed_requests = 0
        # chunk count per document a query may answer: corpus files by
        # filePath, ingest_data items by source
        self.n_chunks: dict[str, int] = {}
        self.traces: list[str] = []
        self.clients: list[McpClient] = []

    # -- environment -------------------------------------------------------

    def env(self) -> dict:
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return dict(
            os.environ,
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(_nproc()),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        )

    def prepare(self) -> None:
        """Fresh run directory; the variant tables from the cache, built
        first (all variants, one JVM) when the cache lacks them."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        cache = os.path.join(WORK, "cache", f"{self.args.scale}-{_source_digest()}")
        missing = [
            k for k in range(CORPUS_VARIANTS)
            if not os.path.isdir(os.path.join(cache, str(k)))
        ]
        if missing:
            log = os.path.join(WORK, "prepare.log")
            with open(log, "ab") as err:
                # own session: its JVM and Spark's Python workers can
                # outlive it, and are stopped with it
                proc = subprocess.Popen(
                    [
                        sys.executable, os.path.join(HERE, "prepare.py"),
                        "--scale", self.args.scale,
                        "--corpus", self.corpus_dir,
                        "--build", os.path.join(WORK, "build"),
                        "--out", cache,
                        "--variants", ",".join(map(str, missing)),
                    ],
                    cwd=ROOT, env=self.env(), stdout=err, stderr=err,
                    start_new_session=True,
                )
                try:
                    code = proc.wait(timeout=800)
                finally:
                    stop_session(proc.pid)
                    proc.wait()
            if code != 0:
                raise RuntimeError(f"prepare.py exited {code}; see {log}")
        self.corpus = corpus_for(self.corpus_seed, self.corpus_dir, self.args.scale)
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        write_corpus(self.corpus)
        self.n_chunks.update(
            (self.corpus.path(n), len(s)) for n, s in self.corpus.docs.items()
        )
        self.variant_dir = os.path.join(cache, str(self.corpus_seed))

    def use_tables(self, kind: str) -> str:
        for name in ("table", "table_fts"):
            dst = os.path.join(self.run_dir, name)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(os.path.join(self.variant_dir, kind, name), dst)
        return os.path.join(self.run_dir, "table")

    def spawn(self, table: str) -> McpClient:
        n = len(self.clients)
        if self.args.trace:
            trace = os.path.join(self.run_dir, f"trace-{n}.json")
            self.traces.append(trace)
            argv = [
                sys.executable, os.path.join(HERE, "traced_serve.py"),
                "--table", table, "--base-dir", self.corpus_dir,
                "--trace-out", trace,
            ]
        else:
            argv = [
                sys.executable, "-m", "mcp_local_rag_spark",
                "--table", table, "serve", "--base-dir", self.corpus_dir,
            ]
        c = McpClient(
            argv, cwd=ROOT, env=self.env(),
            stderr_path=os.path.join(self.run_dir, f"server-{n}.err"),
        )
        self.clients.append(c)
        c.initialize()
        return c

    def close(self, c: McpClient) -> None:
        # VmHWM is a high-water mark: one sample before the server exits
        # covers its whole life
        self.rss_mb = max(self.rss_mb, c.rss_mb())
        c.close()

    # -- requests and checks ----------------------------------------------

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        self.failed.add(self.attempted)
        print(f"# FAIL {msg}", file=sys.stderr)

    def call(self, c: McpClient, tool: str, args: dict, kind: str | None = None):
        """One checked-by-caller tools/call; returns the payload or None
        when the server answered an error (already counted failed)."""
        self.attempted += 1
        payload, is_error, dt = c.call(tool, args)
        if kind is not None:
            self.lat.setdefault(kind, []).append(dt * 1000.0)
        if is_error:
            self.fail(f"{tool} error: {str(payload)[:200]}")
            return None
        return payload

    def query(self, c: McpClient, req: dict, prefix: str = ""):
        """One query_documents; its checked rows, or None."""
        rows = self.call(c, "query_documents", req["args"], prefix + "query")
        if rows is None or not self.check_query(rows, req.get("expect_top")):
            return None
        return rows

    def neighbors(self, c: McpClient, rows, prefix: str = "") -> None:
        """read_chunk_neighbors around a query's top row with the tool's
        defaults (before=after=2), as its description tells a host to use
        it: "the chunks immediately before and after a query_documents
        result"."""
        top = rows[0]
        t = top["chunkIndex"]
        src = top.get("source")
        args = {"source": src} if src else {"filePath": top["filePath"]}
        n = self.n_chunks.get(src or top["filePath"])
        if n is None:
            self.fail(f"query answered an unknown document {src or top['filePath']}")
            return
        chunks = self.call(
            c, "read_chunk_neighbors", {**args, "chunkIndex": t}, prefix + "neighbors"
        )
        if chunks is None:
            return
        want = list(range(max(0, t - 2), min(n - 1, t + 2) + 1))
        got = [ch["chunkIndex"] for ch in chunks]
        if got != want:
            self.fail(f"neighbor frame {got[:3]}.. != {want[:3]}.. around {args} {t}")
        elif [ch["chunkIndex"] for ch in chunks if ch["isTarget"]] != [t]:
            self.fail(f"neighbor frame marks the wrong target around {args} {t}")

    def read(self, c: McpClient, req: dict, prefix: str = "") -> None:
        rows = self.query(c, req, prefix)
        if rows is not None:
            self.neighbors(c, rows, prefix)

    def check_query(self, rows, expect_top=None) -> bool:
        n0 = len(self.failures)
        if not (1 <= len(rows) <= LIMIT):
            self.fail(f"query returned {len(rows)} rows")
        scores = [r["score"] for r in rows]
        if scores != sorted(scores):
            self.fail("query rows not in score order")
        if expect_top is not None and rows:
            top = (rows[0]["filePath"], rows[0]["chunkIndex"])
            if top != tuple(expect_top):
                self.fail(f"known-answer query: top {top} != {tuple(expect_top)}")
        return len(self.failures) == n0

    def timed(self, fn, *args) -> None:
        """Run ``fn``; its requests and their wall time count towards
        requests_per_s."""
        n0, t0 = self.attempted, time.perf_counter()
        fn(*args)
        self.timed_s += time.perf_counter() - t0
        self.timed_requests += self.attempted - n0

    def warm(self, c: McpClient, stream) -> None:
        for _ in range(WARMUP_READS):
            self.read(c, next(stream), "warmup_")

    def read_for(self, c: McpClient, stream, seconds: float) -> None:
        """Reads for ``seconds``: a query, then the neighbors of its top
        row."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            self.read(c, next(stream))

    def read_n(self, c: McpClient, stream, n: int) -> None:
        for _ in range(n):
            self.read(c, next(stream))

    def status_count(self, c: McpClient, want: int) -> None:
        st = self.call(c, "status", {})
        if st is not None and st["chunkCount"] != want:
            self.fail(f"status.chunkCount {st['chunkCount']} != expected {want}")

    # -- workloads ---------------------------------------------------------

    def start(self, table: str, stream) -> McpClient:
        """Spawn the server; set-up lasts until its first query answers."""
        c = self.spawn(table)
        rows = self.query(c, next(stream), "setup_")
        self.setup_s = time.perf_counter() - c.t_spawn
        if rows is not None:
            self.neighbors(c, rows, "setup_")
        return c

    def read_hot(self) -> None:
        table = self.use_tables("fresh")
        stream = Generator([self.args.seed, 1], self.corpus_seed).queries(
            self.corpus, limit=LIMIT
        )
        c = self.start(table, stream)
        self.warm(c, stream)
        self.timed(self.read_for, c, stream, self.args.seconds)
        self.close(c)

    def write_sync(self) -> None:
        self.write_mix(resync=True)

    def write_mix(self, resync: bool = False) -> None:
        seed = self.args.seed
        table = self.use_tables("stale")
        # chunk counts of the live ingest_data sources, stale one included
        stale_src, stale_sents = stale_source(self.corpus_seed)
        self.n_chunks[stale_src] = len(stale_sents)
        reads = Generator([seed, 1], self.corpus_seed).queries(self.corpus, limit=LIMIT)
        writes = Generator([seed, 2], self.corpus_seed)
        # the index lags: the set-up query and the stale ones take the
        # Spark fallback
        c = self.start(table, reads)
        self.timed(self.stale_reads_and_writes, c, reads, writes)
        # the writes emptied the term cache: warm it again
        self.warm(c, reads)
        n = round(self.args.seconds * WRITE_MIX_READS_PER_S)
        self.timed(self.read_n, c, reads, n)

        if resync:
            self.resync(c)
        # a re-sync reconciles the files; ingest_data rows are not its to
        # prune, so every live raw source stays in the count
        raw = sum(n for k, n in self.n_chunks.items() if k.startswith("bench://"))
        self.status_count(c, self.corpus.chunk_count() + raw)
        self.close(c)

    def stale_reads_and_writes(self, c: McpClient, reads, writes) -> None:
        """The Spark-fallback reads, then each write of WRITES followed by
        the read that must see it."""
        for _ in range(STALE_QUERIES):
            self.read(c, next(reads), "stale_")
        sources = [writes.raw_source(i) for i in range(len(WRITES))]
        for op, i in WRITES:
            src, sents = sources[i]
            if op == "ingest":
                out = self.call(
                    c, "ingest_data",
                    {"content": "\n\n".join(sents),
                     "metadata": {"source": src, "format": "text"}},
                    "ingest",
                )
                if out is not None:
                    if out["chunkCount"] != len(sents):
                        self.fail(f"ingest_data {src}: {out['chunkCount']} chunks")
                    self.n_chunks[src] = len(sents)
            else:
                out = self.call(c, "delete_file", {"source": src}, "delete")
                if out is not None:
                    if out["removedChunks"] != len(sents):
                        self.fail(f"delete_file {src}: {out['removedChunks']} chunks")
                    self.n_chunks.pop(src, None)
            # the read that must see the write: the new source's own
            # sentence ranks first; a deleted source answers nothing
            k = i % len(sents)
            rows = self.call(
                c, "query_documents", {"query": sents[k], "limit": LIMIT},
                "read_after_write",
            )
            if rows is not None and self.check_query(rows):
                top = rows[0]
                if op == "ingest" and (top.get("source"), top["chunkIndex"]) != (src, k):
                    self.fail(f"read after ingest of {src}: top is {top['filePath']}")
                if op == "delete" and any(r.get("source") == src for r in rows):
                    self.fail(f"read after delete: {src} still answers")
            if op == "ingest":
                frame = self.call(
                    c, "read_chunk_neighbors",
                    {"source": src, "chunkIndex": 0, "before": 0, "after": 5},
                )
                if frame is not None and [ch["text"] for ch in frame] != sents:
                    self.fail(f"neighbor frame of {src} != its sentences")

    def resync(self, c: McpClient) -> None:
        """A seeded edit of the corpus files, then a ``sync_start``
        re-sync polled to its end."""
        p = self.scale
        Generator([self.args.seed, 3], self.corpus_seed).edit_corpus(
            self.corpus, edits=p["edits"], adds=p["adds"], deletes=p["deletes"]
        )
        write_corpus(self.corpus)
        t0 = time.perf_counter()
        job = self.call(c, "sync_start", {})
        state = None
        deadline = t0 + SYNC_TIMEOUT_S
        while job is not None and time.perf_counter() < deadline:
            time.sleep(SYNC_POLL_S)
            st = self.call(c, "sync_status", {"jobId": job["jobId"]})
            if st is None or st["state"] != "running":
                state = st and st["state"]
                break
        self.lat["resync"] = [(time.perf_counter() - t0) * 1000.0]
        if state != "succeeded":
            self.fail(f"re-sync ended {state}")

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict:
        q, nb = self.lat.get("query", []), self.lat.get("neighbors", [])
        if not q or not nb or self.setup_s is None:
            raise RuntimeError("no timed reads")
        return {
            "setup_s": (self.setup_s, "s"),
            "query_p50_ms": (pct(q, 0.5), "ms"),
            "neighbors_p50_ms": (pct(nb, 0.5), "ms"),
            "requests_per_s": (self.timed_requests / self.timed_s, "1/s"),
            "server_rss_mb": (self.rss_mb, "MB"),
        }

    def client_detail(self) -> dict:
        """Client-side figures beyond the end-to-end set: sample counts and
        the write_mix tool latencies."""
        out = {f"n_{k}": len(v) for k, v in self.lat.items()}
        for k, v in self.lat.items():
            out[f"{k}_p50_ms"] = pct(v, 0.5)
            # tails stay out of the gated metrics: on a shared 4-core
            # host their run-to-run spread exceeded the 0.25 bound
            out[f"{k}_p90_ms"] = pct(v, 0.9)
        out["timed_requests"] = self.timed_requests
        out["timed_s"] = self.timed_s
        return out


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    """Digest of the package and the table-building benchmark code: a
    cached table is reused only by the code that built it."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, f) for f in ("gen.py", "prepare.py")]
    for dirpath, dirnames, names in os.walk(os.path.join(ROOT, "mcp_local_rag_spark")):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["read_hot", "write_mix", "write_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args()
    # the package and bench.py must be in this checkout; fail before
    # starting anything when they are not
    import bench  # noqa: F401
    import mcp_local_rag_spark  # noqa: F401

    # every process the run starts is stopped and waited for on the way
    # out, also when the run is terminated
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    t_start = time.perf_counter()
    try:
        run.prepare()
        getattr(run, args.workload)()
    finally:
        for c in run.clients:
            c.close(timeout=5)

    e2e = run.end_to_end()
    artifact = {
        "workload": args.workload,
        "config": {
            "git_rev": _git_rev(),
            "source_digest": _source_digest(),
            "seed": args.seed,
            "corpus_variant": run.corpus_seed,
            "scale": args.scale,
            "corpus_chunks": run.corpus.chunk_count(),
            "corpus_files": len(run.corpus.docs),
            "seconds": args.seconds,
            "trace": args.trace,
            "clients": 1,
            "loop": "closed",
            "SPARK_GRAFT_CPUS": run.env()["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEM": run.env()["SPARK_DRIVER_MEM"],
            "python": platform.python_version(),
        },
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "client": run.client_detail(),
        "attempted": run.attempted,
        "failures": run.failures,
        "wall_s": time.perf_counter() - t_start,
    }
    if args.trace:
        from layers import per_layer, unit_of

        with open(run.traces[-1]) as fh:
            trace = json.load(fh)
        artifact["per_layer"] = {
            k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(trace).items()
        }
        artifact["ambient_control"] = trace.get("ambient_control")
        metrics = artifact["per_layer"]
    else:
        metrics = artifact["end_to_end"]
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failed),
                "metrics": metrics,
            }
        )
    )
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
