"""End-to-end docs pipeline: extraction → linking → canonicalization →
triples, with link P/R vs generated ground truth (north rule: ≥0.95),
span-sequence invariant, and checkpoint resume.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from abecto_spark.plans.pipeline import DocsPipeline, PipelineConfig, verify_span_invariant
from abecto_spark.sources.checkpoint import SnapshotStore
from abecto_spark.sources.docs import synth_docs, true_links

N_DOCS = 1500
N_ENTITIES = 120


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snapshots"))
    docs = synth_docs(spark, n_docs=N_DOCS, n_entities=N_ENTITIES, seed=42)
    store = SnapshotStore(spark, root)
    pipe = DocsPipeline(spark, store, PipelineConfig())
    result = pipe.run(docs, resume=False)
    return docs, store, pipe, result


def test_every_doc_yields_one_mention(spark, pipeline_run):
    docs, _, _, result = pipeline_run
    assert result.mentions.count() == N_DOCS
    assert result.mentions.select("doc_id").distinct().count() == N_DOCS


def test_link_precision_recall(spark, pipeline_run):
    docs, _, _, result = pipeline_run
    truth = true_links(spark, N_DOCS, n_entities=N_ENTITIES, seed=42)
    # predicted entity clusters from canonicalization
    pred = result.canonical
    t = truth.select(F.col("doc_id").alias("resource"), "entity_id")
    joined = pred.join(t, "resource")
    # pair-level P/R computed clusterwise: predicted pairs = same canonical,
    # true pairs = same entity_id
    c1 = joined.select(F.col("canonical_id").alias("c"), F.col("entity_id").alias("e"),
                       F.col("resource").alias("r1"))
    c2 = joined.select(F.col("canonical_id").alias("c"), F.col("entity_id").alias("e2"),
                       F.col("resource").alias("r2"))
    pred_pairs = (
        c1.join(c2.drop("e2").withColumnRenamed("c", "c_"), F.col("c") == F.col("c_"))
    )
    # simpler: aggregate counts
    cluster_ent = joined.groupBy("canonical_id", "entity_id").count()
    # predicted pairs within cluster: n*(n-1)/2 summed over (cluster)
    per_cluster = joined.groupBy("canonical_id").count().withColumnRenamed("count", "n")
    total_pred_pairs = per_cluster.select(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0] or 0
    correct_pairs = cluster_ent.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0] or 0
    truth_in_pred = joined.groupBy("entity_id").count().withColumnRenamed("count", "n")
    # recall denominator: all true pairs among linked+unlinked docs
    all_truth = truth.groupBy("entity_id").count().withColumnRenamed("count", "n")
    total_true_pairs = all_truth.select(F.sum(F.col("n") * (F.col("n") - 1) / 2)).collect()[0][0] or 0

    precision = correct_pairs / total_pred_pairs if total_pred_pairs else 1.0
    recall = correct_pairs / total_true_pairs if total_true_pairs else 1.0
    print(f"link precision={precision:.4f} recall={recall:.4f}")
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_span_invariant(spark, pipeline_run):
    docs, _, _, result = pipeline_run
    assert verify_span_invariant(docs, result.triples) == 0


def test_triples_reference_real_docs(spark, pipeline_run):
    docs, _, _, result = pipeline_run
    n_docs = docs.count()
    labels = result.triples.where(F.col("p") == "label")
    assert labels.count() == n_docs
    # every canonical subject carries at least one sameAs provenance triple
    assert (
        result.triples.where(F.col("p") == "sameAs").select("s").distinct().count()
        == result.triples.select("s").distinct().count()
    )


def test_resume_skips_completed_stages(spark, pipeline_run):
    docs, store, pipe, first = pipeline_run
    # all stage manifests exist and are complete
    for stage in ("s1_mentions", "s2_edges", "s3_canonical", "s4_triples"):
        man = store.manifest(stage)
        assert man["complete"], stage
        assert man["row_count"] > 0, stage
        assert sum(man["partition_rows"].values()) == man["row_count"]
    # re-run with resume: no stage recomputes. The only jobs allowed are
    # the parquet schema reads of the five snapshots (S1-S5).
    sc = spark.sparkContext
    sc.setJobGroup("test_resume", "resume over completed snapshots")
    try:
        second = pipe.run(docs, resume=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_resume")
    assert len(jobs) <= 5, sorted(jobs)
    # results identical (read from snapshots)
    assert second.metrics["s2_edges"]["row_count"] == first.metrics["s2_edges"]["row_count"]
    assert second.canonical.count() == first.canonical.count()
    assert sorted(second.measures.collect()) == sorted(first.measures.collect())
    # findings have no snapshot: built on first read, same as the build's
    assert sorted(second.findings.collect()) == sorted(first.findings.collect())


def test_config_change_invalidates_snapshots(spark, pipeline_run):
    docs, store, _, _ = pipeline_run
    assert not store.has("s2_edges", "different-token")


def test_media_feature_stage(spark, tmp_path):
    from abecto_spark.plans.pipeline import DocsPipeline, PipelineConfig
    from abecto_spark.sources.checkpoint import SnapshotStore
    from abecto_spark.sources.docs import synth_docs

    docs = synth_docs(spark, n_docs=300, n_entities=30, seed=42)
    store = SnapshotStore(spark, str(tmp_path / "snap_media"))
    cfg = PipelineConfig(media_features=True, media_feature_dim=8)
    res = DocsPipeline(spark, store, cfg).run(docs, resume=False)
    assert res.media_features is not None
    feats = res.media_features.collect()
    assert len(feats) > 0
    assert all(len(r.feature) == 8 and r.decode_ok for r in feats)
    assert res.metrics["s1b_media"]["row_count"] == len(feats)
    # resume: the media snapshot is reused, and a different dim invalidates
    res2 = DocsPipeline(spark, store, cfg).run(docs, resume=True)
    assert res2.metrics["s1b_media"]["row_count"] == len(feats)
    assert not store.has("s1b_media", PipelineConfig(media_features=True,
                                                     media_feature_dim=4).token())


def test_pipeline_property_measures(spark, tmp_path):
    root = str(tmp_path / "snap_prop")
    docs = synth_docs(spark, n_docs=N_DOCS, n_entities=N_ENTITIES, seed=42)
    store = SnapshotStore(spark, root)
    res = DocsPipeline(spark, store, PipelineConfig(property_measures=True)).run(
        docs, resume=False
    )
    per_var = {
        (r.measure, r.dataset)
        for r in res.measures.where("variable = 'label'").collect()
    }
    assert any(m == "count" for m, _ in per_var)
    assert any(m == "absoluteCoverage" for m, _ in per_var)


def test_spark_submit_pyfiles_job(tmp_path):
    """The north-rule deployment shape end-to-end: package the library as
    a --py-files zip, run examples/submit_pipeline.py through a real
    spark-submit from a cwd where the repo is NOT importable, and check
    the triples table and per-stage metrics come out. Master is owned by
    the CLI (session.submit_spark sets no master)."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)
    zip_path = build(str(tmp_path / "dist"))
    submit = shutil.which("spark-submit")
    assert submit, "spark-submit not on PATH"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out_dir, snap_dir = str(tmp_path / "kg"), str(tmp_path / "snap")
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path,
         os.path.join(repo, "examples", "submit_pipeline.py"),
         "--docs", "2000", "--output", out_dir, "--snapshots", snap_dir],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = [json.loads(l) for l in proc.stdout.splitlines()
               if l.startswith("{")]
    stages = {m["stage"] for m in metrics}
    assert {"s1_mentions", "s2_edges", "s3_canonical", "s4_triples"} <= stages
    assert any(f.endswith(".parquet") for f in os.listdir(out_dir))
