"""bench.py's record contract, without Spark: which queries the suite
times, and the compact headline it prints as its last stdout line."""

from __future__ import annotations

import json

import bench
from abecto_spark.plans.entry_queries import QUERIES

#: the 89 contract queries the suite has timed since round 1
SUITE_89 = {
    "ann_ivf_topk", "ann_lsh_topk", "ann_top1", "anti_join",
    "aspect_algebra", "aspect_bgp", "aspect_scan", "assortativity",
    "bigram_logprob", "bigram_score_cross", "bm25_topk", "bpe_token_count",
    "ceq_numeric", "characteristic_sets", "chunk_documents", "closure_cc",
    "clustering_coefficient", "construct_grouped", "construct_rules",
    "corpus_curation", "corpus_stats", "doc_fingerprint", "doc_quality",
    "dsir_select", "embedding_neardup", "equivalent_value_mapping",
    "events_asof", "events_interval", "events_rollup", "exact_dedup",
    "functional_mapping", "incremental_canonical", "incremental_dedup",
    "incremental_span_dedup", "kcore_15", "kg_bfs_distances",
    "kg_degree_stats", "kg_harmonic", "kg_hits", "kg_pagerank", "kg_ppr",
    "kg_sssp", "kg_triangles", "kg_walks", "kg_wpr", "label_propagation",
    "link_prediction", "minhash_candidates", "mixture_sample",
    "mixture_upsample", "neardup_dedup", "ngram_contamination",
    "ngram_jaccard", "pack_contiguous", "part_pmi", "perplexity_buckets",
    "population_measures", "property_findings", "property_value_coverage",
    "quantize_embeddings", "rdfs_closure", "redact_pii",
    "repeated_span_dedup", "repetition_signals", "rule_builtins",
    "rule_fixpoint", "segment_dedup", "semdedup", "sessionize",
    "shacl_report", "simhash_candidates", "sparql_agg", "sparql_corners",
    "sparql_describe", "sparql_graph", "sparql_paths",
    "sparql_paths_ground", "sparql_paths_seeded", "sparql_subquery",
    "sparql_update", "sparql_update_quads", "text_stats", "tfidf_terms",
    "top_ngrams", "topk_per_group", "unigram_logprob", "void_stats",
    "windowed_agg", "wrong_value_suppression",
}


def test_skip_set_names_registry_queries():
    assert bench.SKIP <= set(QUERIES)


def test_suite_is_the_registry_minus_the_skip_set():
    assert len(SUITE_89) == 89
    assert set(bench.SUITE) == set(QUERIES) - bench.SKIP == SUITE_89
    assert len(bench.SUITE) == 89


def test_headline_is_compact_json():
    def run(s):
        return {"elapsed_sec": 1234.567 + s, "cpu_s": 4321.987 + s, "triples": 500_000}

    runs = [run(0), run(1)]
    record = {
        "metric": "kg_pipeline_docs_per_sec", "value": 14828.12, "unit": "sec",
        "sf": "0.1", "cpus": 32,
        "queries": {
            name: {"wall_s": 123.456, "cpu_s": 987.654} for name in bench.SUITE
        },
        "pipeline": {
            "n_docs": 250_000, "elapsed_sec": runs[0]["elapsed_sec"],
            "cpu_s": runs[0]["cpu_s"], "triples_emitted": 500_000, "runs": runs,
        },
        "total_sec": 12345.678,
    }
    line = json.dumps(
        bench.headline(record, ".bench_build/bench/sf0.1-docs250000.json")
    )
    assert len(line.encode()) <= 1000
    out = json.loads(line)
    assert (out["metric"], out["value"], out["unit"]) == (
        "kg_pipeline_docs_per_sec", 14828.12, "sec"
    )
    assert out["cpu_s"] == 4321.987
    assert out["queries"] == 89
    assert "ann_ivf_topk" not in line
