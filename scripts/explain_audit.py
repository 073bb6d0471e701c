#!/usr/bin/env python
"""Physical-plan audit: capture `.explain("formatted")` for the headline
operators and check the plan properties that matter at 100 TB —
filter/column pushdown into the parquet scan, whole-stage codegen
coverage, broadcast of small sides, absence of cartesian products.

Writes PLANS.md (plan excerpts + per-check verdicts) and exits non-zero
if a required property is missing.

Usage: python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def checkpoint_plans(spark, run):
    """``run()``'s result and the plans of the frames it hands to
    ``localCheckpoint``, in call order: a loop's own round, before the
    checkpoint cuts its lineage."""
    frame = type(spark.range(0))
    plans = []
    local_checkpoint = frame.localCheckpoint

    def capture(df, *args, **kwargs):
        plans.append(plan_of(df))
        return local_checkpoint(df, *args, **kwargs)

    frame.localCheckpoint = capture
    try:
        return run(), plans
    finally:
        frame.localCheckpoint = local_checkpoint


def main() -> int:
    from pyspark.sql import functions as F

    import abecto_spark.plans.entry_queries as q
    from abecto_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)

    checks = []  # (name, ok, detail)
    sections = []

    def check(name, ok, detail=""):
        checks.append((name, bool(ok), detail))

    # ---- 1. scan pushdown: filter + column pruning --------------------
    scan = q.q_aspect_scan(spark, SF_DIR)
    p = plan_of(scan)
    sections.append(("aspect_scan (pushdown + pruning)", p))
    check("aspect_scan: filter pushed to scan", "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal" in p)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    # 3 projected columns + the filter column; customer has 8 columns total
    check(
        "aspect_scan: column pruning (4 of 8 cols read)",
        rs and len(rs.group(1).split(",")) == 4,
        rs.group(1) if rs else "no ReadSchema",
    )
    check("aspect_scan: whole-stage codegen", "codegen id" in p)

    # ---- 2. joins: broadcast for small sides, no cartesian ------------
    pop = q.q_population_measures(spark, SF_DIR)
    p = plan_of(pop)
    sections.append(("population_measures", p))
    check("population_measures: no cartesian product", "CartesianProduct" not in p)

    fm = q.q_functional_mapping(spark, SF_DIR)
    p = plan_of(fm)
    sections.append(("functional_mapping", p))
    check("functional_mapping: no cartesian product", "CartesianProduct" not in p)

    # ---- 3. JW linking: blocked join (no full cross product) ----------
    # the scored pairs are localCheckpoint-ed eagerly, so the final plan
    # starts at a scan of the checkpoint; keep the scorer's own plan too
    jw, checkpointed = checkpoint_plans(
        spark, lambda: q.q_jw_linking(spark, SF_DIR)
    )
    p = plan_of(jw)
    sections.append(("jw_linking (blocked similarity join)", p))
    # the candidate join runs inside DuckDB: EXPLAIN the scorer's query
    # over an empty table typed like its input (EXPLAIN takes no
    # parameters, so they are bound inline)
    import duckdb
    import pyarrow as pa

    from abecto_spark.operators.jw_mapping import _SCORER_SQL

    sql = _SCORER_SQL.replace("$boost", "true").replace("$r_min", "0.5")
    cols = ("dataset", "variable", "value", "bk", "_s", "_ti", "_tj")
    with duckdb.connect() as con:
        con.register("t", pa.table({
            c: pa.array([], pa.int32() if c[0] == "_" else pa.string()) for c in cols
        }))
        sql = "EXPLAIN " + sql.replace("$threshold", "0.9")
        dp = "\n".join(r[1] for r in con.execute(sql).fetchall())
    sections.append(("jw_linking candidate join (DuckDB EXPLAIN of the scorer query)", dp))
    check("jw_linking: candidate join is hash/merge (blocked), not BNLJ/cartesian",
          "HASH_JOIN" in dp
          and not any(op in dp for op in (
              "CROSS_PRODUCT", "NESTED_LOOP_JOIN", "BLOCKWISE_NL_JOIN")))
    sp = "\n".join(checkpointed)
    sections.append(("jw_linking bucket scorer (plan before the checkpoint)", sp))
    # the scorer is the MapInArrow checked below: no Python UDF node at all
    check("jw_linking: Arrow-batched scorer (no row-at-a-time PythonUDF)",
          "BatchEvalPython" not in sp and "ArrowEvalPython" not in sp)
    check("jw_linking: bucket scorer is MapInArrow (no FlatMapGroupsInPandas)",
          "MapInArrow" in sp and "FlatMapGroupsInPandas" not in sp)

    # ---- 4. dedup: exchange reuse / partial aggregation ---------------
    dd = q.q_exact_dedup(spark, SF_DIR)
    p = plan_of(dd)
    sections.append(("exact_dedup (partial agg)", p))
    check("exact_dedup: map-side partial aggregation", "HashAggregate" in p and p.count("Exchange") <= 2)

    # ---- 5. windowed agg: single shuffle ------------------------------
    wa = q.q_windowed_agg(spark, SF_DIR)
    p = plan_of(wa)
    sections.append(("windowed_agg", p))
    check(
        "windowed_agg: exactly one shuffle",
        len(re.findall(r"\(\d+\) Exchange", p)) == 1,
    )
    # AQE-wrapped plans print without codegen ids before execution; assert
    # map-side partial aggregation instead (the property that matters)
    check("windowed_agg: map-side partial aggregation", "partial_count" in p)

    # ---- 5b. corpus curation: quota window must be salted --------------
    cc = q.q_corpus_curation(spark, SF_DIR)
    p = plan_of(cc)
    sections.append(("corpus_curation (salted two-phase per-language quota)", p))
    check(
        "corpus_curation: full-corpus quota window keyed on (lang, _salt), not lang alone",
        re.search(r"hashpartitioning\(lang#\d+, _salt#\d+", p) is not None,
    )
    check(
        "corpus_curation: at most one lang-only partitioning (the bounded survivor rank)",
        len(re.findall(r"hashpartitioning\(lang#\d+, \d+\)", p)) <= 1,
    )

    # ---- 5b1b. segment dedup: window keyed on the segment string -------
    sd = q.q_segment_dedup(spark, SF_DIR)
    p = plan_of(sd)
    sections.append(("segment_dedup (C4 repeated-paragraph drop)", p))
    check(
        "segment_dedup: first-occurrence window keyed on the segment string"
        " (high cardinality), never a low-cardinality column",
        re.search(r"hashpartitioning\(chunk#\d+", p) is not None,
    )
    check(
        "segment_dedup: JVM-side only (no Python eval)",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )

    # ---- 5b1b2. repeated-span dedup: aggregate first-occurrence, -------
    # 8-byte fingerprint shuffle keys, no window over the hot key
    rsd = q.q_repeated_span_dedup(spark, SF_DIR)
    p = plan_of(rsd)
    sections.append(("repeated_span_dedup (sliding-window exact-substring dedup)", p))
    check(
        "repeated_span_dedup: first occurrence via partial-aggregated min"
        " (map-side combine), not a row_number window on the hot key",
        "partial_min" in p and not re.search(r"row_number.*fp#", p),
    )
    check(
        "repeated_span_dedup: shuffles keyed on the 8-byte fingerprint /"
        " (doc, position), never window text",
        re.search(r"hashpartitioning\(fp#\d+", p) is not None,
    )
    check(
        "repeated_span_dedup: JVM-side only (no Python eval)",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )
    check(
        "repeated_span_dedup: no cartesian product",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    )

    # ---- 5b1b3. incremental span dedup: store joins stay on the fp key -
    isd = q.q_incremental_span_dedup(spark, SF_DIR)
    p = plan_of(isd)
    sections.append(("incremental_span_dedup (batch admission vs fingerprint store)", p))
    check(
        "incremental_span_dedup: store probe is a semi/anti join on the"
        " 8-byte fingerprint (never a rescan of corpus text)",
        re.search(r"LeftSemi|LeftAnti", p) is not None
        and re.search(r"hashpartitioning\(fp#\d+", p) is not None,
    )
    check(
        "incremental_span_dedup: JVM-side only (no Python eval)",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )
    check(
        "incremental_span_dedup: no cartesian product",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    )

    # ---- 5b1b4. top_ngrams: salted two-phase per-group top-k -----------
    tng = q.q_top_ngrams(spark, SF_DIR)
    p = plan_of(tng)
    sections.append(("top_ngrams (boilerplate mining, two-phase top-k)", p))
    check(
        "top_ngrams: no full-table window partitioned on the group"
        " columns alone (phase-1 window carries the salt)",
        len(re.findall(r"hashpartitioning\(source#\d+, \d+\)", p)) <= 1,
    )
    check(
        "top_ngrams: map-side partial aggregation on the ngram counts",
        "partial_count" in p or "partial_sum" in p,
    )
    check(
        "top_ngrams: JVM-side only (no Python eval)",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )

    # ---- 5b1b5. perplexity buckets: broadcast thresholds, no row rank --
    pb = q.q_perplexity_buckets(spark, SF_DIR)
    p = plan_of(pb)
    sections.append(("perplexity_buckets (CCNet terciles, broadcast thresholds)", p))
    check(
        "perplexity_buckets: thresholds join back via broadcast"
        " (|langs| rows), never a per-row rank window",
        "BroadcastHashJoin" in p and "row_number" not in p,
    )
    check(
        "perplexity_buckets: map-side partial aggregation",
        "partial_percentile" in p or "partial_count" in p,
    )
    check(
        "perplexity_buckets: JVM-side only (no Python eval)",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )

    # ---- 5b1c. embedding quantization: row-local, zero shuffle ---------
    qe = q.q_quantize_embeddings(spark, SF_DIR)
    p = plan_of(qe)
    sections.append(("quantize_embeddings (row-local int8 quantization)", p))
    check(
        "quantize_embeddings: zero exchanges (row-local transform)",
        "Exchange" not in p,
    )
    check(
        "quantize_embeddings: column pruning (vec_id + embedding only)",
        (lambda m: m and set(
            c.split(":")[0] for c in m.group(1).split(",")
        ) == {"vec_id", "embedding"})(re.search(r"ReadSchema: struct<([^>]*)>", p)),
    )

    # ---- 5b2. mixture sampling: pure filter, no shuffle, no Python -----
    mx = q.q_mixture_sample(spark, SF_DIR)
    p = plan_of(mx)
    sections.append(("mixture_sample (deterministic key-hash filter)", p))
    check("mixture_sample: zero exchanges (stateless filter)", "Exchange" not in p)
    check(
        "mixture_sample: JVM-side only (no Python eval)",
        "EvalPython" not in p,
    )

    # ---- 5b3. decontamination: benchmark side broadcast, hash join key -
    dc = q.q_ngram_contamination(spark, SF_DIR)
    p = plan_of(dc)
    sections.append(("ngram_contamination (broadcast benchmark, hash-key join)", p))
    check(
        "ngram_contamination: benchmark grams joined via broadcast",
        "BroadcastHashJoin" in p,
    )
    check("ngram_contamination: no cartesian product", "CartesianProduct" not in p)
    check(
        "ngram_contamination: map-side partial aggregation on the pair counts",
        "partial_count" in p,
    )

    # ---- 5b4. PII redaction: pure Catalyst regex chain ------------------
    pii = q.q_redact_pii(spark, SF_DIR)
    p = plan_of(pii)
    sections.append(("redact_pii (regexp chain, no shuffle)", p))
    check("redact_pii: JVM-side only (no Python eval)", "EvalPython" not in p)
    check("redact_pii: zero exchanges (stateless per-row pass)", "Exchange" not in p)

    # ---- 5b. repetition signals: per-doc HOF pass, zero shuffle --------
    rep = q.q_repetition_signals(spark, SF_DIR)
    p = plan_of(rep)
    sections.append(("repetition_signals (shuffle-free per-document pass)", p))
    check(
        "repetition_signals: zero exchanges (per-document aggregate HOFs,"
        " no explode/groupBy)",
        "Exchange" not in p,
    )
    check(
        "repetition_signals: column pruning (doc_id + text only)",
        (lambda m: m and set(
            c.split(":")[0] for c in m.group(1).split(",")
        ) == {"doc_id", "text"})(re.search(r"ReadSchema: struct<([^>]*)>", p)),
    )

    # ---- 5b4b. mixture upsampling: row-local explode, no shuffle --------
    mu = q.q_mixture_upsample(spark, SF_DIR)
    p = plan_of(mu)
    sections.append(("mixture_upsample (deterministic fractional replication)", p))
    check("mixture_upsample: zero exchanges (row-local explode)", "Exchange" not in p)
    check("mixture_upsample: JVM-side only (no Python eval)", "EvalPython" not in p)

    # ---- 5b4c. incremental dedup: fingerprint-keyed window + anti join --
    inc = q.q_incremental_dedup(spark, SF_DIR)
    p = plan_of(inc)
    sections.append(("incremental_dedup (batch admission vs fingerprint store)", p))
    check(
        "incremental_dedup: first-wins window keyed on the fingerprint"
        " (high cardinality)",
        re.search(r"hashpartitioning\(fingerprint#\d+", p) is not None,
    )
    check(
        "incremental_dedup: store probe is an anti join on the same key",
        "LeftAnti" in p,
    )

    # ---- 5b4d. corpus stats: mergeable percentile histogram -------------
    cs = q.q_corpus_stats(spark, SF_DIR)
    p = plan_of(cs)
    sections.append(("corpus_stats (exact percentiles, partial-aggregated)", p))
    check(
        "corpus_stats: exact percentile partial-aggregates map-side"
        " (mergeable histogram, not a per-group row buffer)",
        "partial_percentile" in p,
    )
    check(
        "corpus_stats: column pruning (group cols + text only)",
        (lambda m: m and set(
            c.split(":")[0] for c in m.group(1).split(",")
        ) == {"source", "lang", "text"})(re.search(r"ReadSchema: struct<([^>]*)>", p)),
    )

    # ---- 5b5. BM25: filter-before-explode, TakeOrdered top-k ------------
    bm = q.q_bm25_topk(spark, SF_DIR)
    p = plan_of(bm)
    sections.append(("bm25_topk (broadcast stats, TakeOrdered top-k)", p))
    check("bm25_topk: no cartesian product", "CartesianProduct" not in p)
    check(
        "bm25_topk: top-k via TakeOrderedAndProject (no global sort shuffle)",
        "TakeOrderedAndProject" in p,
    )
    check(
        "bm25_topk: corpus stats + df joined from broadcast (never collected)",
        p.count("BroadcastExchange") >= 2,
    )
    check("bm25_topk: map-side partial aggregation", "partial_count" in p)

    # ---- 5b6. unigram LM: hot tokens broadcast, Zipf tail shuffled ------
    ul = q.q_unigram_logprob(spark, SF_DIR)
    p = plan_of(ul)
    sections.append(("unigram_logprob (hot-token broadcast / tail shuffle split)", p))
    check(
        "unigram_logprob: hot-token path is a broadcast hash join",
        "BroadcastHashJoin" in p,
    )
    check("unigram_logprob: no cartesian product", "CartesianProduct" not in p)
    check("unigram_logprob: map-side partial aggregation", "partial_count" in p)

    # ---- 5b6b. bigram LM: hot bigrams broadcast, Zipf tail shuffled -----
    bl = q.q_bigram_logprob(spark, SF_DIR)
    p = plan_of(bl)
    sections.append(("bigram_logprob (hot-bigram broadcast / tail shuffle split)", p))
    check(
        "bigram_logprob: hot-bigram path is a broadcast hash join",
        "BroadcastHashJoin" in p,
    )
    check("bigram_logprob: no cartesian product", "CartesianProduct" not in p)
    check("bigram_logprob: map-side partial aggregation", "partial_count" in p)
    check(
        "bigram_logprob: transitions built by array transform, not a "
        "positional self-join (plan contains explode over transform/slice)",
        "slice(" in p and "transform(" in p,
    )

    # ---- 5b6c. cross-corpus LM scoring: model joins left, hot split -----
    bx = q.q_bigram_score_cross(spark, SF_DIR)
    p = plan_of(bx)
    sections.append(("bigram_score_cross (reference-model scoring, OOV-smoothed)", p))
    check(
        "bigram_score_cross: hot-bigram path is a broadcast hash join",
        "BroadcastHashJoin" in p,
    )
    check("bigram_score_cross: no cartesian product", "CartesianProduct" not in p)
    check(
        "bigram_score_cross: source filter pushed to the parquet scan",
        "PushedFilters" in p and "src0" in p,
    )
    check(
        "bigram_score_cross: map-side partial aggregation", "partial_count" in p
    )

    # ---- 5b7. chunking: row-local, zero shuffle --------------------------
    ch = q.q_chunk_documents(spark, SF_DIR)
    p = plan_of(ch)
    sections.append(("chunk_documents (row-local sequence slicer)", p))
    check("chunk_documents: zero exchanges (row-local)", "Exchange" not in p)
    check(
        "chunk_documents: column pruning (doc_id + text only)",
        (lambda m: m and set(
            c.split(":")[0] for c in m.group(1).split(",")
        ) == {"doc_id", "text"})(re.search(r"ReadSchema: struct<([^>]*)>", p)),
    )

    # ---- 5b8. packing: window keyed on the hash shard, never a natural
    # low-cardinality key
    pk = q.q_pack_contiguous(spark, SF_DIR)
    p = plan_of(pk)
    sections.append(("pack_contiguous (hash-sharded running-sum window)", p))
    check(
        "pack_contiguous: the one window shuffle is keyed on the hash shard",
        re.search(r"hashpartitioning\(shard#\d+", p) is not None,
    )
    check(
        "pack_contiguous: no single-partition global window",
        "SinglePartition" not in p,
    )

    # ---- 5b9. semdedup: cell-keyed pair join, broadcast centroids -------
    sdd = q.q_semdedup(spark, SF_DIR)
    p = plan_of(sdd)
    sections.append(("semdedup (cell-local cosine pair join)", p))
    check(
        "semdedup: pair join is cell-keyed hash/merge, not cartesian",
        "CartesianProduct" not in p,
    )
    check(
        "semdedup: verdict applied as left-anti join on the id key",
        "LeftAnti" in p,
    )
    check(
        "semdedup: JVM-side only (no Python eval)",
        "EvalPython" not in p,
    )

    # ---- 6. ANN: brute-force top-k broadcasts the query side ----------
    ann = q.q_ann_top1(spark, SF_DIR)
    p = plan_of(ann)
    sections.append(("ann_top1", p))
    check("ann_top1: broadcast join for query side", "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)

    # ---- 7. SPARQL compiler: predicate pushdown into the triples scan --
    import shutil
    import tempfile

    from abecto_spark.sparql import sparql_select

    tdir = tempfile.mkdtemp(prefix="abecto_audit_triples_")
    try:
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        triples = c.selectExpr(
            "concat('c', c_custkey) AS s",
            "'http://example.org/name' AS p",
            "'literal' AS o_kind",
            "c_name AS o_value",
            "'http://www.w3.org/2001/XMLSchema#string' AS o_datatype",
            "'' AS o_lang",
        )
        triples.write.mode("overwrite").parquet(tdir + "/t")
        tdf = spark.read.parquet(tdir + "/t")
        wide = sparql_select(
            tdf,
            "SELECT ?k ?name WHERE { ?k <http://example.org/name> ?name }",
        )
        p = plan_of(wide)
        sections.append(("sparql compiler (aspect pattern over parquet triples)", p))
        check(
            "sparql_select: constant-predicate filter pushed to parquet scan",
            "PushedFilters: [" in p and "EqualTo(p,http://example.org/name)" in p,
        )
        check("sparql_select: no cartesian product", "CartesianProduct" not in p)

        # ---- 7b. GRAPH constant label pruning (round 4) ----------------
        quads = c.selectExpr(
            "concat('c', c_custkey) AS s",
            "'http://example.org/name' AS p",
            "'literal' AS o_kind",
            "c_name AS o_value",
            "'http://www.w3.org/2001/XMLSchema#string' AS o_datatype",
            "'' AS o_lang",
            "c_mktsegment AS graph",
        )
        quads.write.mode("overwrite").parquet(tdir + "/q")
        qdf = spark.read.parquet(tdir + "/q")
        gw = sparql_select(
            qdf,
            "SELECT ?k ?name WHERE { GRAPH <BUILDING>"
            " { ?k <http://example.org/name> ?name } }",
        )
        p = plan_of(gw)
        sections.append(("sparql GRAPH constant label (partition-prunable filter)", p))
        check(
            "sparql GRAPH <iri>: graph filter pushed to parquet scan",
            "EqualTo(graph,BUILDING)" in p,
        )

        # ---- 7c. subquery joins as one Catalyst tree (round 4) ---------
        sq = sparql_select(
            tdf,
            """SELECT ?k ?name ?n WHERE {
                 ?k <http://example.org/name> ?name .
                 { SELECT ?k (COUNT(?v) AS ?n)
                   WHERE { ?k <http://example.org/name> ?v } GROUP BY ?k }
               }""",
        )
        p = plan_of(sq)
        sections.append(("sparql subquery (aggregate child joined, one tree)", p))
        check("sparql subquery: no cartesian product", "CartesianProduct" not in p)
        check("sparql subquery: map-side partial aggregation", "partial_count" in p)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)

    # ---- 8. graph analytics over the materialized KG (round 5) --------
    # the graph loops checkpoint every round, hiding the plan, so each
    # (k-core, LPA, BFS, SSSP) is audited on one lazy round of its own
    # round function, and each PageRank on the round it hands to
    # localCheckpoint when run for one iteration.
    # pagerank: the per-iteration update must be a hash-aggregated join
    # fan-in (partial aggregation on the dst key), never a cartesian;
    # the dangling 1-row aggregate must come back via a broadcast.
    from abecto_spark.operators.graph_stats import (
        _arcs,
        _degrees,
        _edge_graph,
        _simple_graph,
        frontier_rule,
        kcore_round,
        lpa_round,
        pagerank,
        pagerank_weighted,
        personalized_pagerank,
        sssp_round,
        triangle_counts,
    )

    def pagerank_step(run):
        return checkpoint_plans(spark, run)[1][-1]

    edges = q._part_edges(spark, SF_DIR).localCheckpoint()
    nodes = _edge_graph(edges, "src", "dst")[1]
    p = pagerank_step(lambda: pagerank(edges, iterations=1))
    sections.append(("kg_pagerank single update step (shuffle on dst, broadcast dangling)", p))
    check("kg_pagerank step: no cartesian product", "CartesianProduct" not in p)
    check("kg_pagerank step: map-side partial aggregation on dst", "partial_sum" in p)
    check(
        "kg_pagerank step: dangling mass joined via broadcast",
        "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p,
    )

    tri = triangle_counts(edges)
    p = plan_of(tri)
    sections.append(("kg_triangles (degree-oriented enumeration)", p))
    check("kg_triangles: no cartesian product", "CartesianProduct" not in p)
    check("kg_triangles: map-side partial aggregation", "partial_count" in p)

    lp = q.q_link_prediction(spark, SF_DIR)
    p = plan_of(lp)
    sections.append(("link_prediction (capped wedge join, partial agg)", p))
    check("link_prediction: no cartesian product", "CartesianProduct" not in p)
    check("link_prediction: map-side partial aggregation", "partial_count" in p)

    # kcore: one peel round: degree agg must partially combine; keep-set
    # joins must broadcast or hash, never nest-loop over data
    und = _simple_graph(edges)
    peel = kcore_round(und, _degrees(und), 15)
    p = plan_of(peel)
    sections.append(("kcore single peel round (partial agg + semi-joins)", p))
    check("kcore round: no cartesian product", "CartesianProduct" not in p)
    check("kcore round: map-side partial aggregation", "partial_count" in p)
    check(
        "kcore round: semi-joins are hash joins",
        "LeftSemi" in p and "BroadcastNestedLoopJoin" not in p,
    )

    ds = q.q_dsir_select(spark, SF_DIR)
    p = plan_of(ds)
    sections.append(("dsir_select (two cross-scorings + heap top-n)", p))
    check(
        "dsir_select: global top-n is TakeOrderedAndProject (no sort shuffle)",
        "TakeOrderedAndProject" in p,
    )
    check("dsir_select: no cartesian product", "CartesianProduct" not in p)

    cs = q.q_characteristic_sets(spark, SF_DIR)
    p = plan_of(cs)
    sections.append(("characteristic_sets (two-level aggregation)", p))
    check("characteristic_sets: no cartesian product", "CartesianProduct" not in p)
    check(
        "characteristic_sets: subject-first aggregation (collect_set partial)",
        "partial_collect_set" in p or "ObjectHashAggregate" in p,
    )

    vs = q.q_void_stats(spark, SF_DIR)
    p = plan_of(vs)
    sections.append(("void_stats (per-predicate partition statistics)", p))
    check("void_stats: no cartesian product", "CartesianProduct" not in p)
    check(
        "void_stats: map-side partial aggregation (distincts expand, then combine)",
        "partial_count" in p,
    )

    ccf = q.q_clustering_coefficient(spark, SF_DIR)
    p = plan_of(ccf)
    sections.append(("clustering_coefficient (oriented triangles over wedges)", p))
    check("clustering_coefficient: no cartesian product", "CartesianProduct" not in p)
    check(
        "clustering_coefficient: map-side partial aggregation",
        "partial_count" in p,
    )

    # bfs_distances: audit round 1 of its own fixpoint round — the edge
    # probe must be a hash join on the source key and the settled-set
    # anti-join a hash/broadcast anti, never a nested loop
    from abecto_spark.operators.rules import fixpoint_round, reach_rule

    seeds0 = nodes.where(F.col("node") % 97 == 0)
    level0 = seeds0.withColumn("dist", F.lit(0).cast("long"))
    se = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    p = plan_of(fixpoint_round(frontier_rule(se), level0, level0, 1, key=["node"]))
    sections.append(("kg_bfs_distances single frontier step (hash join + anti-join)", p))
    check("bfs step: no cartesian product", "CartesianProduct" not in p)
    check("bfs step: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check(
        "bfs step: settled-set exclusion is an anti join",
        "LeftAnti" in p,
    )

    # rules.fixpoint: one lazily built transitive_closure round (round 1,
    # delta = all rows = the edges) — the kernel's delta exclusion must
    # be a keyed anti join, never a nested loop or a cartesian product
    p = plan_of(fixpoint_round(reach_rule(edges), edges, edges, 1))
    sections.append(("rule_fixpoint single kernel round (rules.fixpoint)", p))
    anti = [
        b.split("\n", 1)[0] for b in p.split("\n\n") if "Join type: LeftAnti" in b
    ]
    check(
        "fixpoint round: delta exclusion is a LeftAnti hash join"
        " (no BroadcastNestedLoopJoin/CartesianProduct)",
        len(anti) == 1
        and re.search(r"(SortMerge|ShuffledHash|BroadcastHash)Join$", anti[0])
        and "BroadcastNestedLoopJoin" not in p
        and "CartesianProduct" not in p,
        anti[0] if anti else "no LeftAnti join",
    )

    # personalized_pagerank: the same round with the reset-vector
    # restart and teleport; the dangling 1-row aggregate must broadcast
    p = pagerank_step(lambda: personalized_pagerank(edges, seeds0, iterations=1))
    sections.append(("kg_ppr single update step (reset-vector multiply, broadcast dangling)", p))
    check("kg_ppr step: no cartesian product", "CartesianProduct" not in p)
    check("kg_ppr step: map-side partial aggregation on dst", "partial_sum" in p)
    check(
        "kg_ppr step: dangling mass joined via broadcast",
        "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p,
    )

    # temporal joins: asof must be ONE window pass (a single sort-based
    # exchange on the key), never a range/nested-loop join; interval_join
    # must come back as a hash equi-join on (key, bucket) with the range
    # residual as a post-join filter
    asof = q.q_events_asof(spark, SF_DIR)
    p = plan_of(asof)
    sections.append(("events_asof (tagged-union window pass, no range join)", p))
    check("events_asof: no cartesian product", "CartesianProduct" not in p)
    check("events_asof: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check("events_asof: single window pass carries the payload", "Window" in p)

    ij = q.q_events_interval(spark, SF_DIR)
    p = plan_of(ij)
    sections.append(("events_interval (bucketized range-join rewrite)", p))
    check("events_interval: no cartesian product", "CartesianProduct" not in p)
    check(
        "events_interval: bucket match is a hash equi-join, not a nested loop",
        "BroadcastNestedLoopJoin" not in p and "Join" in p,
    )
    check(
        "events_interval: event_type filter pushed to the parquet scan",
        "PushedFilters: [" in p and "event_type" in p.split("PushedFilters")[1][:200],
    )

    ro = q.q_events_rollup(spark, SF_DIR)
    p = plan_of(ro)
    sections.append(("events_rollup (GROUP BY ROLLUP, partial aggregation)", p))
    check("events_rollup: map-side partial aggregation", "partial_count" in p)

    # pagerank_weighted: the same round over the weighted edge table —
    # weighted inflow must partially aggregate on dst like the unweighted
    p = pagerank_step(
        lambda: pagerank_weighted(edges.withColumn("w", F.lit(2.0)), iterations=1)
    )
    sections.append(("kg_wpr single update step (weighted inflow on dst)", p))
    check("kg_wpr step: no cartesian product", "CartesianProduct" not in p)
    check("kg_wpr step: map-side partial aggregation on dst", "partial_sum" in p)

    pmi = q.q_part_pmi(spark, SF_DIR)
    p = plan_of(pmi)
    sections.append(("part_pmi (basket-bounded pair join, partial counts)", p))
    check("part_pmi: no cartesian product", "CartesianProduct" not in p)
    check("part_pmi: pair fan-out is a hash equi-join on the group key",
          "BroadcastNestedLoopJoin" not in p)
    check("part_pmi: pair counts partially aggregate map-side",
          "partial_count" in p)

    asrt = q.q_assortativity(spark, SF_DIR)
    p = plan_of(asrt)
    sections.append(("assortativity (single combinable corr aggregate)", p))
    check("assortativity: no cartesian product", "CartesianProduct" not in p)
    check(
        "assortativity: corr partially aggregates map-side",
        "partial_corr" in p,
    )

    # incremental_canonical: the relabel join keys on canonical_id and the
    # merge map is admission-sized — it must come back hash/broadcast,
    # never as a nested loop over the history map
    ic = q.q_incremental_canonical(spark, SF_DIR)
    p = plan_of(ic)
    sections.append(("incremental_canonical (label-graph merge + relabel join)", p))
    check("incremental_canonical: no cartesian product", "CartesianProduct" not in p)
    check(
        "incremental_canonical: relabel/new-node joins are hash joins, not nest-loop",
        "BroadcastNestedLoopJoin" not in p,
    )

    # label_propagation: the per-round argmax must be a plain aggregate
    # (max over struct) — no window keyed on anything low-cardinality —
    # and the vote counts must combine map-side
    nbrs = _arcs(_simple_graph(edges), "node", "nbr")
    lpa = lpa_round(
        nbrs, nbrs.select("node").distinct().withColumn("label", F.col("node"))
    )
    p = plan_of(lpa)
    sections.append(("label_propagation single round (vote agg + struct argmax)", p))
    check("label_propagation: no cartesian product", "CartesianProduct" not in p)
    check(
        "label_propagation: vote counts partially aggregate map-side",
        "partial_count" in p,
    )
    check(
        "label_propagation: argmax is an aggregate, not a window",
        "Window" not in p,
    )

    # tfidf_terms: the df relation is vocabulary-sized so it must NOT be
    # broadcast; the only window partitions on doc_id (high cardinality)
    tfv = q.q_tfidf_terms(spark, SF_DIR)
    p = plan_of(tfv)
    sections.append(("tfidf_terms (shuffle join on term, doc_id-window truncation)", p))
    check("tfidf_terms: no cartesian product", "CartesianProduct" not in p)
    check(
        "tfidf_terms: tf counts partially aggregate map-side",
        "partial_count" in p,
    )
    check(
        "tfidf_terms: truncation window partitions on doc_id (high cardinality)",
        "partitionBy" not in p or "doc_id" in p,
    )
    import re as _re

    check(
        "tfidf_terms: only nested-loop is the 1-row corpus-stats cross join",
        len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) <= 1,
    )

    # kg_hits: per-iteration lineage is checkpoint-cut; the final plan
    # must be plain hash joins on the node key (no cartesian, and the
    # only nested-loop anywhere in an iteration is the 1-row norm
    # broadcast, which the checkpoint absorbs)
    ht = q.q_kg_hits(spark, SF_DIR)
    p = plan_of(ht)
    sections.append(("kg_hits (final join of hub/auth onto nodes)", p))
    check("kg_hits: no cartesian product", "CartesianProduct" not in p)
    check("kg_hits: no row-at-a-time Python", "BatchEvalPython" not in p)

    # kg_harmonic: the per-seed BFS settles via checkpointed frontiers;
    # the returned aggregate must combine map-side and key on the node
    # id (high cardinality), never on the seed label alone
    hc = q.q_kg_harmonic(spark, SF_DIR)
    p = plan_of(hc)
    sections.append(("kg_harmonic (per-seed BFS sum(1/dist))", p))
    check("kg_harmonic: no cartesian product", "CartesianProduct" not in p)
    check(
        "kg_harmonic: harmonic sum partially aggregates map-side",
        "partial_sum" in p,
    )

    # shacl_report: every constraint evaluates as a join/filter over the
    # distributed triples; the focus-set joins broadcast the (bounded)
    # focus side and nothing degenerates to a cartesian
    sh = q.q_shacl_report(spark, SF_DIR)
    p = plan_of(sh)
    sections.append(("shacl_report (constraint joins over triples)", p))
    check("shacl_report: no cartesian product", "CartesianProduct" not in p)
    check(
        "shacl_report: focus-set joins are broadcast hash joins",
        "BroadcastHashJoin" in p,
    )

    # sparql_update: deletes are anti-joins, inserts unions — no
    # cartesian and no Python in the mutation path
    up = q.q_sparql_update(spark, SF_DIR)
    p = plan_of(up)
    sections.append(("sparql_update (anti-join deletes + union inserts)", p))
    check("sparql_update: no cartesian product", "CartesianProduct" not in p)
    check("sparql_update: no row-at-a-time Python", "BatchEvalPython" not in p)

    # sparql_update_quads: the quad forms ride the same plan shapes;
    # the graph label only ever appears as a filter or an extra
    # equi-join key — never a partitioning key on its own
    upq = q.q_sparql_update_quads(spark, SF_DIR)
    p = plan_of(upq)
    sections.append(("sparql_update_quads (graph label as filter/key)", p))
    check("sparql_update_quads: no cartesian product",
          "CartesianProduct" not in p)
    check("sparql_update_quads: no row-at-a-time Python",
          "BatchEvalPython" not in p)
    check("sparql_update_quads: no window over the graph label",
          "Window" not in p or "partitionBy graph" not in p)

    # kg_sssp: each relaxation is an |E| join + map-side-combining min.
    # The returned DF is checkpoint-cut (flat lineage is the point), so
    # audit one lazy round of its own round function, like the LPA row
    ew = q._part_edges_weighted(spark, SF_DIR).select(
        F.col("src").alias("s"), F.col("dst").alias("d"), "w"
    )
    dist0 = seeds0.withColumn("dist", F.lit(0.0))
    p = plan_of(sssp_round(ew, dist0))
    sections.append(("kg_sssp single relaxation round (join + min agg)", p))
    check("kg_sssp: no cartesian product", "CartesianProduct" not in p)
    check(
        "kg_sssp: distance min partially aggregates map-side",
        "partial_min" in p,
    )

    # kg_walks: the neighbor ranking windows on the high-cardinality
    # source node; each step is a plain equi-join on it
    wk = q.q_kg_walks(spark, SF_DIR)
    p = plan_of(wk)
    sections.append(("kg_walks (congruential walk joins)", p))
    check("kg_walks: no cartesian product", "CartesianProduct" not in p)
    check("kg_walks: no row-at-a-time Python", "BatchEvalPython" not in p)

    # rdfs_closure: the schema is closed on the driver and the data
    # takes one pass; the closed schema must reach the data as a
    # broadcast (a shuffle join would re-partition the data relation),
    # with no Python and no cartesian anywhere
    rc = q.q_rdfs_closure(spark, SF_DIR)
    p = plan_of(rc)
    sections.append(("rdfs_closure (schema-first RDFS closure)", p))
    check("rdfs_closure: no cartesian product", "CartesianProduct" not in p)
    check("rdfs_closure: no row-at-a-time Python", "BatchEvalPython" not in p)
    check(
        "rdfs_closure: schema joins broadcast"
        " (no SortMergeJoin/ShuffledHashJoin)",
        "BroadcastHashJoin" in p
        and "SortMergeJoin" not in p
        and "ShuffledHashJoin" not in p,
    )

    # ---- write report -------------------------------------------------
    lines = ["# PLANS — physical-plan audit (generated by scripts/explain_audit.py)", ""]
    lines.append("Checks that the Catalyst plans have the properties that keep the")
    lines.append(f"operators viable at 100 TB. Data: `{SF_DIR}`.\n")
    lines.append("| check | verdict | detail |")
    lines.append("|---|---|---|")
    for name, ok, detail in checks:
        lines.append(f"| {name} | {'PASS' if ok else 'FAIL'} | {detail} |")
    lines.append("")
    for title, plan in sections:
        lines.append(f"## {title}\n")
        lines.append("```")
        lines.append(plan.strip()[:4000])
        lines.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))

    bad = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print(("PASS " if ok else "FAIL ") + name + (f"  [{detail}]" if detail and not ok else ""))
    print(f"wrote PLANS.md; {len(checks) - len(bad)}/{len(checks)} checks pass")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
