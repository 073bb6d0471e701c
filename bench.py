#!/usr/bin/env python
"""Benchmark harness: the KG-pipeline headline plus the contract-query suite.

Runs every ``QUERIES`` entry outside ``SKIP`` on the tables at
$SPARK_GRAFT_SF_DIR (default: sf0.1), then the docs pipeline (S1-S5)
twice on $ABECTO_BENCH_DOCS synthetic docs (default 250k), on
local[$SPARK_GRAFT_CPUS]. Every query and pipeline run records its wall
and process-tree CPU seconds (``perfbench/tracing.tree_cpu_s``). The full
record goes to ``.bench_build/bench/``; the last stdout line is a compact
JSON headline (``headline``):

    {"metric": "kg_pipeline_docs_per_sec", "value": N, "unit": "sec",
     "cpu_s": ..., "queries_wall_s": ..., "record": "...", ...}

The headline metric is KG-pipeline triple-emission throughput (docs/sec,
best of two runs) per the north rule.

Usage:  python bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from abecto_spark.plans.entry_queries import QUERIES
from abecto_spark.plans.pipeline import DocsPipeline, PipelineConfig
from abecto_spark.session import get_spark
from abecto_spark.sources.checkpoint import SnapshotStore
from abecto_spark.sources.docs import synth_docs
from perfbench.tracing import tree_cpu_s

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

REPO = os.path.dirname(os.path.abspath(__file__))

#: contract queries the suite does not time: the names the headline's
#: earlier hand-kept list left out, so per-query rows stay comparable
#: across rounds (``kg_pipeline_triples`` is the pipeline timed below)
SKIP = frozenset({
    "report_deviations", "sparql_crawl", "var_paths", "rdf_roundtrip",
    "distinct_scan", "use_present_mapping", "jw_linking", "corr_groups",
    "lang_filter", "multimodal_features", "kg_pipeline_triples",
})
SUITE = [name for name in QUERIES if name not in SKIP]


def timed(run):
    """``(run(), {"wall_s", "cpu_s"})``: wall and process-tree CPU seconds
    (driver, JVM and Python workers) spent in ``run``."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    out = run()
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    return out, {"wall_s": round(wall, 3), "cpu_s": round(cpu, 3)}


def time_query(spark, name: str, sf_dir: str) -> dict:
    """{wall_s, cpu_s} of building and fully evaluating query ``name``."""
    def run():
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    return timed(run)[1]


def run_pipeline(spark, docs) -> dict:
    """One ``DocsPipeline`` run (S1-S5, no resume) over ``docs`` on a fresh
    snapshot store: {elapsed_sec, cpu_s, triples}."""
    root = tempfile.mkdtemp(prefix="abecto_bench_")
    try:
        pipe = DocsPipeline(spark, SnapshotStore(spark, root), PipelineConfig())
        result, t = timed(lambda: pipe.run(docs, resume=False))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return {"elapsed_sec": t["wall_s"], "cpu_s": t["cpu_s"],
            "triples": result.metrics["s4_triples"]["row_count"]}


def headline(record: dict, path: str) -> dict:
    """The compact last stdout line: the pipeline headline and its CPU,
    suite totals and the record path; no per-query map."""
    pipe, queries = record["pipeline"], record["queries"].values()
    return {
        "metric": record["metric"], "value": record["value"], "unit": record["unit"],
        "cpu_s": pipe["cpu_s"], "elapsed_sec": pipe["elapsed_sec"],
        "n_docs": pipe["n_docs"], "triples_emitted": pipe["triples_emitted"],
        "cpus": record["cpus"], "sf": record["sf"], "queries": len(queries),
        "queries_wall_s": round(sum(q["wall_s"] for q in queries), 3),
        "queries_cpu_s": round(sum(q["cpu_s"] for q in queries), 3),
        "total_sec": record["total_sec"], "record": path,
    }


def main() -> None:
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_docs = int(os.environ.get("ABECTO_BENCH_DOCS", 250_000))

    spark = get_spark(
        app_name="abecto_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    queries = {name: time_query(spark, name, sf_dir) for name in SUITE}

    # ---- KG pipeline throughput (the north-rule headline) ---------------
    docs = synth_docs(
        spark, n_docs=n_docs, n_entities=max(n_docs // 12, 10), seed=42,
        partitions=max(cpus, 8),
    ).localCheckpoint(eager=True)  # materialize input before timing
    # best-of-2 keeps the headline comparable with earlier rounds; cpu_s
    # is recorded for both runs
    runs = [run_pipeline(spark, docs) for _ in range(2)]
    best = min(runs, key=lambda r: r["elapsed_sec"])

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "kg_pipeline_docs_per_sec",
        "value": round(n_docs / best["elapsed_sec"], 2),
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "queries": queries,
        "pipeline": {
            "n_docs": n_docs,
            "elapsed_sec": best["elapsed_sec"],
            "cpu_s": best["cpu_s"],
            "triples_emitted": best["triples"],
            "runs": runs,
        },
        "total_sec": round(
            sum(q["wall_s"] for q in queries.values()) + best["elapsed_sec"], 3
        ),
    }
    out_dir = os.path.join(REPO, ".bench_build", "bench")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"sf{sf}-docs{n_docs}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(headline(record, os.path.relpath(path, REPO))))


if __name__ == "__main__":
    sys.exit(main())
