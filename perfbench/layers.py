"""Per-layer metrics from one traced server's spans and Spark counts.

Input is the JSON ``traced_serve.py`` writes at exit. A span's self time
is its duration minus the time its wrapped children cover. Times are
medians over the calls made in the run (0.0 where a workload never calls
that layer); Spark figures are totals over a request class, so they
repeat exactly between two traced runs of one seed.
"""

from __future__ import annotations

import statistics

READS = {"query_documents", "read_chunk_neighbors"}
WRITES = {"ingest_data", "delete_file"}
SPARK_KEYS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "executor_run_ms", "jvm_gc_ms",
)
# span name -> metric name, reported as the median duration in ms
TIMED = {
    "vector_serve.query": "vector_serve.query_ms",
    "neighbors.read": "neighbors.read_ms",
    "engine.query_documents": "engine.query_documents_ms",
    "engine.ingest_data": "engine.ingest_data_ms",
    "engine.delete_document": "engine.delete_document_ms",
    "engine.optimize": "engine.optimize_ms",
    "ingest.build_chunks": "ingest.build_chunks_ms",
    "ingest.write_chunks": "ingest.write_chunks_ms",
    "ingest.compact_chunks": "ingest.compact_chunks_ms",
    "ingest.delete": "ingest.delete_ms",
    "fts.refresh_postings": "fts.refresh_postings_ms",
}
# reported only by runs that sync (write_sync): on the other workloads
# they are always 0
SYNC_TIMED = {
    "engine.sync": "engine.sync_ms",
    "fts.write_postings": "fts.write_postings_ms",
}


def _median_ms(seconds: list[float]) -> float:
    return statistics.median(seconds) * 1000.0 if seconds else 0.0


def per_layer(trace: dict) -> dict:
    spans = trace["spans"]
    requests = trace["requests"]
    for s in spans:
        s["dur"] = s["t1"] - s["t0"]
        s["child"] = 0.0
    for s in spans:
        if s["parent"] is not None:
            spans[s["parent"]]["child"] += s["dur"]
    by_req: dict[int, list[dict]] = {}
    for s in spans:
        if s["req"] is not None:
            by_req.setdefault(s["req"], []).append(s)

    def self_time(name: str) -> list[float]:
        return [s["dur"] - s["child"] for s in spans if s["name"] == name]

    def durations(name: str, **match) -> list[float]:
        return [
            s["dur"] for s in spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    # which callee answered each query
    path = {}
    for r in requests:
        if r["tool"] == "query_documents":
            names = {s["name"] for s in by_req.get(r["n"], ())}
            if "hybrid_serve.query" in names:
                path[r["n"]] = "sidecar"
            elif "engine.query_documents" in names:
                path[r["n"]] = "spark"
    spark_q = {n for n, p in path.items() if p == "spark"}

    def spark_total(reqs) -> dict:
        tot = dict.fromkeys(SPARK_KEYS, 0)
        for r in reqs:
            for k in SPARK_KEYS:
                tot[k] += r["spark"][k]
        return tot

    sidecar_reads = [
        r for r in requests if r["tool"] in READS and r["n"] not in spark_q
    ]
    query_spark = spark_total(r for r in requests if r["n"] in spark_q)
    write_spark = spark_total(r for r in requests if r["tool"] in WRITES)
    bm25 = [s for s in spans if s["name"] == "hybrid_serve.bm25"]
    n_terms = sum(s["terms"] for s in bm25)
    ingests = [r for r in requests if r["tool"] == "ingest_data"]
    user_bytes = sum(r["user_bytes"] for r in ingests)

    out = {
        "server.envelope_ms": _median_ms(self_time("server.handle")),
        "server.dispatch_ms": _median_ms(self_time("server.call_tool")),
        "server.path_sidecar": sum(1 for p in path.values() if p == "sidecar"),
        "server.path_spark": len(spark_q),
        "server.overlap_refusals": sum(1 for r in requests if r["overlap"]),
        "hybrid_serve.query_ms": _median_ms(
            durations("hybrid_serve.query", cold=False)
        ),
        "hybrid_serve.reload_ms": _median_ms(
            durations("hybrid_serve.query", cold=True)
        ),
        "hybrid_serve.term_cache_miss_share": (
            sum(s["misses"] for s in bm25) / n_terms if n_terms else 0.0
        ),
        "spark.collect_ms": _median_ms(
            [s["dur"] for s in spans if s["name"] == "spark.collect" and s["req"] in spark_q]
        ),
        "spark.sidecar_read_jobs": spark_total(sidecar_reads)["jobs"],
        "storage.bytes_written_per_user_byte": (
            sum(r["bytes_written"] for r in ingests) / user_bytes if user_bytes else 0.0
        ),
    }
    timed = {**TIMED, **SYNC_TIMED} if trace["syncs"] else TIMED
    for name, metric in timed.items():
        out[metric] = _median_ms(durations(name))
    totals = [("query", query_spark), ("write", write_spark)]
    if trace["syncs"]:
        totals.append(("sync", spark_total(trace["syncs"])))
    for prefix, tot in totals:
        for k in SPARK_KEYS:
            out[f"spark.{prefix}_{k}"] = tot[k]
    return out


UNITS = {"_ms": "ms", "_share": "ratio", "_per_user_byte": "ratio", "_bytes": "bytes"}


def unit_of(metric: str) -> str:
    for suffix, unit in UNITS.items():
        if metric.endswith(suffix):
            return unit
    return "count"
