"""Traced twin of ``python -m mcp_local_rag_spark --table T serve``.

    python3 perfbench/traced_serve.py --table T [--base-dir D ...] --trace-out F

Builds the same ``McpServer(RagRpcServer(RagEngine))`` stack the CLI
builds and serves the same stdio loop, with wrappers installed from the
outside around each layer's public entry points. The package is not
modified. Per request:

  * spans (name, start, end, parent) for every wrapped call, kept in
    memory and written to ``--trace-out`` once, at exit;
  * a Spark job group of its own, so the jobs, stages, tasks, shuffle
    bytes, executor run time and GC time it caused can be read back from
    the status store. The ``sync_start`` worker thread does not inherit
    the group (``setJobGroup`` is thread-local), so its jobs are taken
    by job-id range: every ungrouped job submitted after the request;
  * for writes, the bytes of table and index files the request left new
    or rewritten.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import threading
import time

from py4j.protocol import Py4JError

# the write tools the benchmark sends; their storage effect is measured
MUTATING = {"ingest_data", "delete_file"}


class Tracer:
    def __init__(self, spark, storage_dirs: list[str]):
        self.sc = spark.sparkContext
        self.storage_dirs = storage_dirs
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self.syncs: list[dict] = []
        self._local = threading.local()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, annotate=None):
        """Wrap ``fn`` so each call records a span. ``annotate(args,
        kwargs)`` may return extra fields, computed before the call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            rec = {
                "name": name,
                "parent": stack[-1] if stack else None,
                "thread": threading.get_ident(),
                "req": getattr(self._local, "req", None),
            }
            if annotate is not None:
                rec.update(annotate(args, kwargs))
            self.spans.append(rec)
            idx = len(self.spans) - 1
            stack.append(idx)
            rec["t0"] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                rec["t1"] = time.perf_counter()
                stack.pop()

        return wrapper

    def patch(self, owner, attr: str, name: str, annotate=None) -> None:
        setattr(owner, attr, self.span(name, getattr(owner, attr), annotate))

    # -- install -----------------------------------------------------------

    def install(self, mcp) -> None:
        import mcp_local_rag_spark.engine as engine_mod
        import mcp_local_rag_spark.plans.fts as fts_mod

        rpc = mcp.rpc
        engine = rpc.engine
        self.patch(rpc, "call_tool", "server.call_tool")
        self.patch(rpc.neighbors, "read", "neighbors.read")
        hyb = rpc._hybrid
        if hyb is not None:
            self.patch(
                hyb, "query", "hybrid_serve.query",
                lambda a, k: {"cold": hyb._payload is None},
            )
            self.patch(hyb._vec, "query", "vector_serve.query")

            def term_misses(a, k):
                terms = sorted(set(a[0]))
                cache = hyb._term_cache
                return {
                    "terms": len(terms),
                    "misses": sum(1 for t in terms if t not in cache),
                }

            self.patch(hyb, "_bm25", "hybrid_serve.bm25", term_misses)
        for m in (
            "query_documents", "ingest_data", "delete_document",
            "optimize", "sync",
        ):
            self.patch(engine, m, f"engine.{m}")
        # plans functions as the engine module bound them at import
        for fn, name in (
            ("build_chunks", "ingest.build_chunks"),
            ("write_chunks", "ingest.write_chunks"),
            ("compact_chunks", "ingest.compact_chunks"),
            ("delete_document", "ingest.delete"),
            ("delete_documents", "ingest.delete"),
            ("delete_documents_df", "ingest.delete"),
        ):
            self.patch(engine_mod, fn, name)
        # optimize() imports these from the module at call time
        self.patch(fts_mod, "write_postings", "fts.write_postings")
        self.patch(fts_mod, "refresh_postings", "fts.refresh_postings")
        df_cls = type(engine.spark.range(1))
        self.patch(df_cls, "collect", "spark.collect")
        mcp.handle = self._wrap_handle(mcp.handle)

    def _wrap_handle(self, handle):
        inner = self.span("server.handle", handle)

        def traced_handle(request: dict):
            if request.get("id") is None or request.get("method") != "tools/call":
                return handle(request)
            params = request.get("params") or {}
            tool = params.get("name")
            args = params.get("arguments") or {}
            n = len(self.requests)
            req = {"n": n, "tool": tool, "group": f"perfbench-{n}"}
            self.requests.append(req)
            if tool in MUTATING:
                before = self._storage_files()
            if tool == "sync_start":
                req["ungrouped_before"] = self._max_ungrouped()
            self._local.req = n
            self.sc.setJobGroup(req["group"], str(tool))
            try:
                resp = inner(request)
            finally:
                self.sc.setJobGroup(None, None)
                self._local.req = None
            res = (resp or {}).get("result") or {}
            req["error"] = "error" in (resp or {}) or bool(res.get("isError"))
            req["overlap"] = bool(res.get("isError")) and "in progress" in str(
                res.get("content")
            )
            if tool in MUTATING:
                req["bytes_written"] = self._written_since(before)
                content = args.get("content")
                req["user_bytes"] = len(content.encode()) if isinstance(content, str) else 0
            if tool == "sync_start" and not req["error"]:
                job = json.loads(res["content"][0]["text"])["jobId"]
                self.syncs.append(
                    {"jobId": job, "after": req["ungrouped_before"], "req": n}
                )
            if tool == "sync_status" and not req["error"]:
                st = json.loads(res["content"][0]["text"])
                for s in self.syncs:
                    if s["jobId"] == st.get("jobId") and st.get("state") != "running":
                        s.setdefault("upto", self._max_ungrouped())
            return resp

        return traced_handle

    # -- Spark status store ------------------------------------------------

    def _max_ungrouped(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def _job_stats(self, job_ids) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "executor_run_ms": 0, "jvm_gc_ms": 0,
        }
        for jid in sorted(job_ids):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:  # a stage the store never saw run
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["executor_run_ms"] += sd.executorRunTime()
                out["jvm_gc_ms"] += sd.jvmGcTime()
        return out

    def _drain_listener(self) -> None:
        """Let the status store catch up with the last jobs' events."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Py4JError:  # an internal API; fall back to a grace period
            time.sleep(2.0)

    # -- storage -----------------------------------------------------------

    def _storage_files(self) -> dict:
        files = {}
        for d in self.storage_dirs:
            for dirpath, _, names in os.walk(d):
                for f in names:
                    p = os.path.join(dirpath, f)
                    try:
                        s = os.stat(p)
                    except FileNotFoundError:
                        continue
                    files[p] = (s.st_ino, s.st_mtime_ns, s.st_size)
        return files

    def _written_since(self, before: dict) -> int:
        return sum(
            sig[2]
            for p, sig in self._storage_files().items()
            if before.get(p) != sig
        )

    # -- output ------------------------------------------------------------

    def collect_spark(self) -> None:
        """Read each request's and each sync's Spark work back from the
        status store. Call once, after the serve loop ended."""
        self._drain_listener()
        ungrouped = self.sc.statusTracker().getJobIdsForGroup(None)
        for req in self.requests:
            req["spark"] = self._job_stats(
                self.sc.statusTracker().getJobIdsForGroup(req["group"])
            )
        for s in self.syncs:
            upto = s.get("upto", max(ungrouped, default=-1))
            s["spark"] = self._job_stats(
                [j for j in ungrouped if s["after"] < j <= upto]
            )

    def dump(self, path: str, extra: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "requests": self.requests,
                    "syncs": self.syncs,
                    **extra,
                },
                fh,
            )
        os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--base-dir", action="append", default=[])
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    from mcp_local_rag_spark.engine import RagEngine
    from mcp_local_rag_spark.server import McpServer, RagRpcServer
    from mcp_local_rag_spark.session import get_spark

    # the CLI's own assembly (cli.main + the serve subcommand)
    engine = RagEngine(get_spark("rag-cli"), args.table)
    mcp = McpServer(RagRpcServer(engine, base_dirs=args.base_dir))
    tracer = Tracer(
        engine.spark, [engine.table_path, engine.postings_path]
    )
    tracer.install(mcp)
    try:
        mcp.serve(sys.stdin, sys.stdout)
    finally:
        # ambient probes run after the status-store read, so their jobs
        # can never fall into a sync's job-id range
        tracer.collect_spark()
        from bench import _ambient_control

        tracer.dump(args.trace_out, {"ambient_control": _ambient_control(engine.spark)})
    return 0


if __name__ == "__main__":
    sys.exit(main())
