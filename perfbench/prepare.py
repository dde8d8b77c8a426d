"""Build the benchmark's starting tables for corpus variants.

    python3 perfbench/prepare.py --scale full --corpus DIR --build DIR \
        --out DIR --variants 0,1,2,3

Runs in its own process (one JVM for all variants) before any server
starts. For each variant ``k`` it writes the variant's corpus to
``--corpus`` (the path the runs later serve it from, since stored
``filePath`` values are absolute) and leaves in ``<out>/<k>``:

  * ``fresh``: ``RagEngine.sync(corpus)``, which ends in ``optimize()``,
    so the postings index covers the table and every query is served by
    the pyarrow sidecar;
  * ``stale``: the fresh table plus one ``RagEngine.ingest_data`` with no
    ``optimize()`` after it. The engine records the pending index work
    as an intent; a server opening this table adopts it, its index is
    not fresh, and ``query_documents`` takes the Spark path.

Each holds ``table`` and ``table_fts``. A variant's directory appears
only once complete (built under a temporary name, then renamed).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import corpus_for, stale_source, write_corpus  # noqa: E402


def _copy_tables(build: str, dest: str) -> None:
    os.makedirs(dest)
    for name in ("table", "table_fts"):
        shutil.copytree(os.path.join(build, name), os.path.join(dest, name))


def build_variant(spark, k: int, args) -> None:
    from mcp_local_rag_spark.engine import RagEngine

    corpus = corpus_for(k, args.corpus, args.scale)
    shutil.rmtree(args.corpus, ignore_errors=True)
    write_corpus(corpus)
    build = os.path.join(args.build, str(k))
    shutil.rmtree(build, ignore_errors=True)
    tmp = os.path.join(args.out, f"{k}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)

    t0 = time.perf_counter()
    engine = RagEngine(spark, os.path.join(build, "table"))
    engine.sync(args.corpus)
    st = engine.get_status()
    if not st["indexFresh"] or st["chunkCount"] != corpus.chunk_count():
        raise RuntimeError(f"variant {k}: fresh build gave {st}")
    _copy_tables(build, os.path.join(tmp, "fresh"))

    source, sents = stale_source(k)
    engine.ingest_data("\n\n".join(sents), source, format="text")
    st = engine.get_status()
    if st["indexFresh"] or st["chunkCount"] != corpus.chunk_count() + len(sents):
        raise RuntimeError(f"variant {k}: stale build gave {st}")
    _copy_tables(build, os.path.join(tmp, "stale"))
    os.replace(tmp, os.path.join(args.out, str(k)))
    shutil.rmtree(build, ignore_errors=True)
    print(
        f"# prepared variant {k}: {corpus.chunk_count()} chunks in"
        f" {time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--build", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--variants", required=True)
    args = ap.parse_args()

    from mcp_local_rag_spark.session import get_spark

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("perfbench-prepare")
    try:
        for k in (int(v) for v in args.variants.split(",")):
            build_variant(spark, k, args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
