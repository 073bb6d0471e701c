#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, on ``local[4]`` from a
single Python process.

    python3 perfbench/run.py --workload link|graph_loops --seed N \
        --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each was chosen):

* ``link`` — ``DocsPipeline`` over 12k synthetic docs. One operation
  cycle is a fresh build (S1-S5, until the S5 measures are collected)
  followed by a resume over the snapshots it wrote (until the triples
  are counted and the measures collected).
* ``graph_loops`` — one pass over eight iterative queries of the
  ``QUERIES`` registry, each query's frame collected.

After session start, input generation and load, and warm-up
(``setup_s``), operations
run back to back until ``--seconds`` have passed (at least one). Output
checks run outside the timed region. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables the Spark event log and
per-span CPU sampling and reports the per-layer metrics. Human-readable
metric lines come first; the last stdout line is one compact JSON
object, and the full record is written under
``.bench_build/perfbench/records/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".bench_build", "perfbench")

# the program and the benchmark's helpers must import from any working
# directory, in this process and in Spark's Python workers
sys.path[:0] = [REPO, BENCH]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

from abecto_spark.plans.entry_queries import QUERIES  # noqa: E402
from abecto_spark.plans.pipeline import (  # noqa: E402
    DocsPipeline,
    PipelineConfig,
    verify_span_invariant,
)
from abecto_spark.session import get_spark  # noqa: E402

import inputs  # noqa: E402
from checks import link_precision_recall  # noqa: E402
from tracing import (  # noqa: E402
    EVENT_LOG_CONF,
    SpanRecorder,
    TracingStore,
    attribute,
    dir_mb,
    peak_rss_mb,
    read_event_log,
    tree_cpu_s,
)

sys.path.insert(0, os.path.join(REPO, "scripts"))
from check_oracles import frame_hash  # noqa: E402

LINK_DOCS, LINK_ENTITIES = 12_000, 6_000
# kg_hits is left out: it is the same fixed-iteration graph_stats loop as
# kg_pagerank, and its 17% of a pass did not fit the run budget
GRAPH_QUERIES = (
    "closure_cc", "rule_fixpoint", "rdfs_closure", "kg_pagerank",
    "label_propagation", "kg_sssp", "kcore_15", "kg_bfs_distances",
)
LINK_SPANS = (
    "s1_extract", "s2_link", "s3_canonical", "s4_triples", "s5_measures",
    "resume.triples", "resume.s5",
)
SPAN_FIELDS = (
    ("wall_pct", "%"), ("cpu_pct", "%"), ("jobs", "count"), ("tasks", "count"),
    ("shuffle_write_mb", "MB"), ("rows_out", "count"),
)
SPARK_FIELDS = (
    ("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("peak_exec_mb", "MB"),
    ("max_task_ms", "ms"),
)


class Workload:
    """What a workload may leave out: an input to wait for, per-op checks
    after the timed region, checks over the last op, resources to free."""

    def wait_inputs(self) -> None:
        pass

    def check_ops(self, result: dict) -> dict:
        return result["ops"]

    def final_checks(self) -> dict:
        return {"ok": True}

    def close(self) -> None:
        pass


class Link(Workload):
    """S1-S5 build then resume over seeded synthetic docs."""

    span_names = LINK_SPANS

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.root = os.path.join(run_dir, "snapshots")
        self.input_dir = os.path.join(run_dir, "input")

    def generate(self, spark) -> None:
        inputs.write_docs(spark, self.input_dir, self.seed, LINK_DOCS, LINK_ENTITIES)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.input_dir, "docs"))
        if self.docs.count() != LINK_DOCS:
            raise RuntimeError("docs input has the wrong row count")

    def op(self, spark, recorder: SpanRecorder) -> dict:
        """Build (five stage spans closed by the store, then the measures'
        collect), then resume (triple count, then the measures' collect)."""
        shutil.rmtree(self.root, ignore_errors=True)
        start = recorder.begin()
        store = TracingStore(spark, self.root, recorder)
        built = DocsPipeline(spark, store, PipelineConfig()).run(self.docs, resume=False)
        measures = sorted(built.measures.collect())
        build_end = recorder.mark("s5_collect", len(measures)).end
        write_mb = dir_mb(self.root)
        resume_store = TracingStore(spark, self.root, recorder)
        resumed = DocsPipeline(spark, resume_store, PipelineConfig()).run(self.docs, resume=True)
        n_triples = resumed.triples.count()
        recorder.mark("resume.triples", n_triples)
        resumed_measures = sorted(resumed.measures.collect())
        end = recorder.mark("resume.s5", len(resumed_measures)).end
        m = built.metrics
        self.last_build = built
        return {
            "ops": {
                "build": m["s1_mentions"]["row_count"] == LINK_DOCS
                and m["s4_triples"]["row_count"] == 2 * LINK_DOCS,
                "resume": n_triples == 2 * LINK_DOCS and resumed_measures == measures,
            },
            "wall_s": end - start,
            "build_s": build_end - start,
            "resume_s": end - build_end,
            "store.write_mb": write_mb,
            "store.read_calls": resume_store.read_calls,
        }

    def warm_up(self, spark) -> None:
        """One cycle on the real input: the cold one costs ~2x a warm one,
        and the next is within ~5% of the later ones. A fixed count keeps
        every run in the same JIT state."""
        self.op(spark, SpanRecorder(trace=False))

    def final_checks(self) -> dict:
        """Span invariant and link precision/recall on the last build."""
        import pyarrow.parquet as pq

        violations = verify_span_invariant(self.docs, self.last_build.triples)
        canonical = [
            tuple(r) for r in self.last_build.canonical.select("resource", "canonical_id").collect()
        ]
        truth = pq.read_table(
            os.path.join(self.input_dir, "truth"), columns=["doc_id", "entity_id"]
        ).to_pylist()
        precision, recall = link_precision_recall(
            canonical, [(t["doc_id"], t["entity_id"]) for t in truth]
        )
        return {
            "ok": violations == 0 and precision >= 0.95 and recall >= 0.95,
            "span_violations": violations,
            "precision": precision,
            "recall": recall,
        }


class GraphLoops(Workload):
    """Iterative registry queries over seeded TPC-H-shaped tables."""

    span_names = tuple(f"q.{q}" for q in GRAPH_QUERIES)

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.sf_dir = os.path.join(run_dir, "input")
        self.oracle_path = os.path.join(run_dir, "oracles.json")
        self.oracle_proc = None

    def generate(self, spark) -> None:
        """Write the tables; start the DuckDB oracles in their own process,
        beside the warm-up."""
        os.makedirs(self.sf_dir)
        inputs.write_graph_tables(self.sf_dir, self.seed)
        self.oracle_proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "inputs.py"), "oracles",
             self.sf_dir, self.oracle_path, *GRAPH_QUERIES],
            stdout=subprocess.DEVNULL,
        )

    def load(self, spark) -> None:
        # the queries read the parquet themselves; this resolves each file
        for t in inputs.GRAPH_TABLES:
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet"))

    def op(self, spark, recorder: SpanRecorder) -> dict:
        start = recorder.begin()
        frames = {}
        for q in GRAPH_QUERIES:
            df = QUERIES[q](spark, self.sf_dir)
            rows = df.collect()
            end = recorder.mark(f"q.{q}", len(rows)).end
            frames[q] = (df.columns, rows)
        return {
            "ops": None,  # checked against the oracles after the timed region
            "wall_s": end - start,
            "store.write_mb": 0.0,
            "store.read_calls": 0,
            "frames": frames,
        }

    def warm_up(self, spark) -> None:
        """One pass with the queries on three threads, which cuts the
        cold pass from ~37 s to ~22 s. The run budget has no room for a
        second pass, so the timed pass still carries JIT compilation
        (6-27% more wall and 40-60% more CPU than the pass after it, in
        three trials), the same in every run."""
        with ThreadPoolExecutor(3) as pool:
            futures = [
                pool.submit(lambda q: QUERIES[q](spark, self.sf_dir).collect(), q)
                for q in GRAPH_QUERIES
            ]
            for f in futures:
                f.result()

    def wait_inputs(self) -> None:
        """The oracle process must end before the timed region, or its
        CPU would count in the measured process tree."""
        if self.oracle_proc.wait() != 0:
            raise RuntimeError("DuckDB oracle process failed")
        self.oracle_proc = None
        with open(self.oracle_path) as fh:
            self.oracles = json.load(fh)

    def check_ops(self, result: dict) -> dict:
        out = {}
        for q, (cols, rows) in result.pop("frames").items():
            rows = [tuple(r) for r in rows]
            out[q] = (
                len(rows) == self.oracles[q]["rows"]
                and frame_hash(cols, rows) == self.oracles[q]["hash"]
            )
        return out

    def close(self) -> None:
        if self.oracle_proc is not None:
            self.oracle_proc.kill()
            self.oracle_proc.wait()


WORKLOADS = {"link": Link, "graph_loops": GraphLoops}


def _session(run_dir: str, trace: bool):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    return get_spark(
        app_name="abecto_perfbench", master="local[4]", shuffle_partitions=4,
        extra_conf=conf,
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = os.path.join(WORK, "runs", f"{workload_name}-s{seed}-t{int(trace)}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    os.environ.setdefault("ABECTO_SPARK_DRIVER_MEM", "3g")
    wl = WORKLOADS[workload_name](seed, run_dir)
    record = {"workload": workload_name, "seed": seed, "trace": trace, "seconds": seconds}
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(run_dir, trace)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.generate(spark)
        wl.load(spark)
        input_s = time.perf_counter() - t

        t = time.perf_counter()
        wl.warm_up(spark)
        warmup_s = time.perf_counter() - t
        record["setup"] = {
            "session_s": session_s, "input_s": input_s, "warmup_s": warmup_s,
        }

        wl.wait_inputs()

        # timed region
        recorder = SpanRecorder(trace=trace)
        results = []
        t_end = time.perf_counter() + seconds
        failed_ops = []
        while True:
            n_spans = len(recorder.spans)
            cpu0 = tree_cpu_s()
            try:
                res = wl.op(spark, recorder)
            except Exception:  # counted as a failed op; the run goes on
                failed_ops.append(traceback.format_exc())
                del recorder.spans[n_spans:]
            else:
                res["cpu_s"] = tree_cpu_s() - cpu0
                results.append(res)
            if time.perf_counter() >= t_end:
                break

        # checks, outside the timed region
        for res in results:
            res["ops"] = wl.check_ops(res)
        final = wl.final_checks() if results else {"ok": False}
        record["final_checks"] = final
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        record["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid])
        _stop(spark)
        spark = None
    finally:
        if spark is not None:
            _stop(spark)
        wl.close()

    attempted = sum(len(r["ops"]) for r in results) + len(failed_ops)
    failed = sum(not ok for r in results for ok in r["ops"].values()) + len(failed_ops)
    record["op_errors"] = failed_ops
    if not final["ok"]:
        failed += 1  # the last build's outputs fail the invariant or P/R
    record.update(attempted=attempted, failed=failed, ops=results)
    record["setup_s"] = session_s + input_s + warmup_s
    record["op_s"] = _median([r["wall_s"] for r in results])
    record["cpu_s"] = _median([r["cpu_s"] for r in results])
    record["spans"] = [vars(s) | {"wall_s": s.wall_s} for s in recorder.spans]
    if trace:
        logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
        jobs, tasks = read_event_log(logs[0])
        for span, counters in zip(record["spans"], attribute(recorder.spans, jobs, tasks)):
            span.update(counters)
    shutil.rmtree(run_dir, ignore_errors=True)
    return record


def end_to_end(record: dict) -> dict:
    return {
        "op_s": (record["op_s"], "s"),
        "cpu_s": (record["cpu_s"], "s"),
        "setup_s": (record["setup_s"], "s"),
    }


def per_layer(record: dict, span_names) -> dict:
    """Medians over the traced ops of each span's share and counters;
    spans the workload does not run report zero."""
    ops = record["ops"]
    out = {f"setup.{k}": (v, "s") for k, v in record["setup"].items()}
    out["op.wall_s"] = (record["op_s"], "s")
    out["op.cpu_s"] = (record["cpu_s"], "s")
    spans = record["spans"]
    per_op = len(spans) // max(len(ops), 1)
    groups = [spans[i * per_op:(i + 1) * per_op] for i in range(len(ops))]
    for key, unit in SPARK_FIELDS:
        agg = max if key in ("peak_exec_mb", "max_task_ms") else sum
        out[f"spark.{key}"] = (_median([agg(s[key] for s in g) for g in groups]), unit)
    for key in ("store.write_mb", "store.read_calls"):
        out[key] = (_median([r[key] for r in ops]), "MB" if key.endswith("mb") else "count")
    all_spans = LINK_SPANS + tuple(f"q.{q}" for q in GRAPH_QUERIES)
    for name in all_spans:
        for key, unit in SPAN_FIELDS:
            vals = []
            if name in span_names:
                for g, res in zip(groups, ops):
                    s = next(x for x in g if x["name"] == name)
                    if key == "wall_pct":
                        vals.append(100.0 * s["wall_s"] / res["wall_s"])
                    elif key == "cpu_pct":
                        vals.append(100.0 * s["cpu_s"] / res["cpu_s"])
                    else:
                        vals.append(s[key])
            out[f"{name}.{key}"] = (_median(vals), unit)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload]
    metrics = per_layer(record, wl.span_names) if args.trace else end_to_end(record)

    ops = record["ops"]
    lines = dict(end_to_end(record))
    if args.workload == "link":
        lines["docs_per_s"] = (LINK_DOCS / _median([r["build_s"] for r in ops]), "docs/s")
        lines["build_s"] = (_median([r["build_s"] for r in ops]), "s")
        lines["resume_s"] = (_median([r["resume_s"] for r in ops]), "s")
    else:
        lines["suite_s"] = (record["op_s"], "s")
    lines["peak_rss_mb"] = (record["peak_rss_mb"], "MB")
    lines["failed_frac"] = (record["failed"] / max(record["attempted"], 1), "1")
    if args.trace:
        lines.update(metrics)
    for name, (value, unit) in lines.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"final_checks {json.dumps(record['final_checks'])}")

    out_dir = os.path.join(WORK, "records")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"record {os.path.relpath(path, REPO)}")

    summary = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
