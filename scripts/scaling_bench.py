#!/usr/bin/env python
"""Two-parallelism scaling evidence for the north rule.

The rule's criterion (≥0.8 throughput scaling efficiency between N and 4N
executors) cannot use a real cluster in this sandbox, so this runs the
SAME KG pipeline on the SAME input at local[N] and local[4N] (default
8 → 32 cores) in separate subprocesses, twice each, interleaved, and
appends the faster run per level plus ``eff = (thr_4N / thr_N) / 4`` as
one line to BENCH/pairings.jsonl. Each run is ``bench.run_pipeline``.

Usage:  python scripts/scaling_bench.py [--docs 200000] [--n 8]
Child:  invoked with ABECTO_SCALE_CORES set; prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(cores: int, n_docs: int, docs_path: str) -> None:
    from abecto_spark.session import get_spark
    from bench import run_pipeline

    spark = get_spark(
        app_name=f"abecto_scale_{cores}",
        master=f"local[{cores}]",
        # 1x cores measured faster than 2x for the DuckDB scoring stage
        # (fewer per-task engine setups; tasks are already balanced by
        # the salted bucket split)
        shuffle_partitions=max(cores, 8),
    )
    docs = spark.read.parquet(docs_path)
    # warmup: spin up the python-worker pool, codegen and shuffle paths on
    # a small slice so the timed run measures steady-state throughput (a
    # long-lived cluster pays these once, not per job)
    run_pipeline(spark, docs.limit(5000).localCheckpoint(eager=True))
    got = run_pipeline(spark, docs)
    print(json.dumps(dict(
        got, cores=cores, docs_per_sec=round(n_docs / got["elapsed_sec"], 2)
    )))


def parent(n: int, n_docs: int) -> None:
    from abecto_spark.session import get_spark
    from abecto_spark.sources.docs import synth_docs

    docs_path = tempfile.mkdtemp(prefix="abecto_scale_docs_") + "/docs"
    spark = get_spark(app_name="abecto_scale_gen", master="local[8]", shuffle_partitions=8)
    synth_docs(spark, n_docs=n_docs, n_entities=max(n_docs // 12, 10), seed=42,
               partitions=64).write.parquet(docs_path)
    spark.stop()

    # two interleaved runs per level, the faster kept (as bench.py's
    # best-of-2), so both levels see the same host drift
    results: dict = {}
    for r in range(2):
        for cores in (n, 4 * n):
            env = dict(os.environ, ABECTO_SCALE_CORES=str(cores),
                       ABECTO_SCALE_DOCS=str(n_docs), ABECTO_SCALE_PATH=docs_path)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, capture_output=True, text=True, cwd=REPO,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            got = json.loads(line)
            print(f"run {r} local[{cores}]: {got}")
            if cores not in results or got["elapsed_sec"] < results[cores]["elapsed_sec"]:
                results[cores] = got
    shutil.rmtree(os.path.dirname(docs_path), ignore_errors=True)

    thr_n = results[n]["docs_per_sec"]
    thr_4n = results[4 * n]["docs_per_sec"]
    eff = (thr_4n / thr_n) / 4 if thr_n else 0.0
    log_path = os.path.join(REPO, "BENCH", "pairings.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "a") as fh:
        fh.write(json.dumps({
            "ts": time.time(),
            "n_docs": n_docs,
            "levels": {str(c): results[c] for c in (n, 4 * n)},
            "eff": round(eff, 3),
        }) + "\n")
    print(f"appended pairing to {log_path}; efficiency={eff:.3f}")


if __name__ == "__main__":
    if "ABECTO_SCALE_CORES" in os.environ:
        child(
            int(os.environ["ABECTO_SCALE_CORES"]),
            int(os.environ["ABECTO_SCALE_DOCS"]),
            os.environ["ABECTO_SCALE_PATH"],
        )
    else:
        ap = argparse.ArgumentParser()
        ap.add_argument("--docs", type=int, default=200_000)
        ap.add_argument("--n", type=int, default=8)
        a = ap.parse_args()
        parent(a.n, a.docs)
