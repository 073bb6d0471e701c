"""Deduplication operators for large-scale document corpora — the
training-data-pipeline extensions of the engine. All hot-path hashing is
JVM-side (``xxhash64`` inside whole-stage codegen); only SimHash bit
packing uses a vectorized numpy UDF.

  * exact_dedup          — hash-groupBy representative election
  * minhash_lsh_candidates — shingle → minhash signature → banded LSH
                             bucket join (near-dup candidate pairs)
  * ngram_jaccard_pairs  — token-set Jaccard within blocking groups
  * simhash              — 64-bit SimHash + banded hamming candidates
  * embedding_near_dups  — cosine near-dup pairs via random-hyperplane LSH
  * jaccard_verify_pairs — exact shingle-set Jaccard for candidate pairs
  * neardup_dedup        — end-to-end corpus dedup: LSH candidates →
                           Jaccard verify → connected components →
                           canonical keep election per cluster
  * segment_dedup        — corpus-wide segment-level exact dedup (the
                           C4-style repeated-paragraph drop, over fixed
                           token windows): first occurrence wins, docs
                           reassembled from surviving segments
  * repeated_span_dedup  — exact-substring dedup over SLIDING windows
                           (the Lee-et-al. "Deduplicating Training Data"
                           shape): any ≥ window_tokens span repeated
                           anywhere in the corpus, at any alignment, is
                           removed from all but its first occurrence
  * incremental_span_dedup / span_fingerprints — the admission form of
                           the span pass for corpus growth: excise
                           batch spans repeated in-batch or present in
                           the accumulated fingerprint store
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One representative (min id) per duplicate group + group size."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups")
    )


def _tokens(text_col):
    return F.filter(F.split(text_col, " "), lambda t: t != "")


def _shingle_arr(toks_col: str, shingle: int):
    """Array of word ``shingle``-grams over an already-tokenized array
    column (``shingle=1`` degenerates to the token array itself)."""
    return F.expr(
        f"transform(sequence(1, greatest(size({toks_col}) - {shingle - 1}, 1)),"
        f" i -> concat_ws(' ', slice({toks_col}, i, {shingle})))"
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 64, shingle: int = 3
) -> DataFrame:
    """(id, h0..h{n-1}) minhash signature over word shingles, fully
    JVM-side: shingles via ``transform(sequence(...))``, per-seed min of
    ``xxhash64(shingle, seed)`` in one hash aggregate (map-side combine)."""
    toks = df.select(F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("toks"))
    sh = toks.select(
        "_id",
        F.explode(_shingle_arr("toks", shingle)).alias("shingle"),
    )
    aggs = [
        F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(n_hashes)
    ]
    return sh.groupBy("_id").agg(*aggs).withColumnRenamed("_id", id_col)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, band votes): docs
    sharing ≥1 LSH band bucket. bands × rows_per_band = n_hashes.

    ``bucket_cap`` bounds the per-band bucket membership (row_number over
    the bucket, id order): a degenerate bucket — template-heavy corpora
    where one band signature covers a large doc fraction — otherwise
    costs |bucket|² in the self-join. Capping trades recall for a hard
    quadratic bound; docs dropped from a bucket in one band can still
    pair through their other ``bands − 1`` buckets. Off by default
    (exact-oracle semantics need complete candidate subgraphs)."""
    rows_per_band = n_hashes // bands
    sig = minhash_signature(df, id_col, text_col, n_hashes, shingle)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket").orderBy("_id")
        buckets = (
            buckets.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    other = buckets.withColumnRenamed("_id", "_id2")
    pairs = (
        buckets.join(other, ["band", "bucket"])
        .where(F.col("_id") < F.col("_id2"))
        .groupBy(F.col("_id").alias("id_a"), F.col("_id2").alias("id_b"))
        .agg(F.count("*").alias("band_votes"))
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_cols: list[str],
    threshold: float = 0.6,
) -> DataFrame:
    """Exact token-set Jaccard over pairs within blocking groups (id_a <
    id_b, jaccard) — the verify stage after LSH blocking, or standalone
    for small groups."""
    t = df.select(
        *group_cols,
        F.col(id_col).alias("id_a"),
        F.array_distinct(_tokens(F.col(text_col))).alias("ta"),
    )
    u = df.select(
        *group_cols,
        F.col(id_col).alias("id_b"),
        F.array_distinct(_tokens(F.col(text_col))).alias("tb"),
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_union("ta", "tb")).cast("double")
    return (
        t.join(u, group_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_SIMHASH_UDF = None


def _simhash_batch(tokens: pd.Series) -> pd.Series:
    out = np.zeros(len(tokens), dtype=np.int64)
    for i, toks in enumerate(tokens):
        if toks is None or len(toks) == 0:
            continue
        arr = np.asarray(
            [np.uint64(int.from_bytes(t.encode()[:8].ljust(8, b"\0"), "little")) for t in toks],
            dtype=np.uint64,
        )
        # splitmix finalizer for dispersion
        arr = arr * np.uint64(0xBF58476D1CE4E5B9)
        arr ^= arr >> np.uint64(27)
        arr = arr * np.uint64(0x94D049BB133111EB)
        arr ^= arr >> np.uint64(31)
        bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        counts = bits.sum(axis=0)
        sig = (counts * 2 > len(arr)).astype(np.uint64)
        out[i] = (sig << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(out)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long) per document."""
    global _SIMHASH_UDF
    if _SIMHASH_UDF is None:
        _SIMHASH_UDF = F.pandas_udf(_simhash_batch, "long")
    return df.select(
        F.col(id_col), _SIMHASH_UDF(_tokens(F.col(text_col))).alias("simhash")
    )


def simhash_candidates(sig: DataFrame, id_col: str, bands: int = 4) -> DataFrame:
    """Pairs whose simhash matches on ≥1 of ``bands`` 16-bit slices —
    hamming-distance blocking."""
    width = 64 // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    b = sig.select(F.col(id_col).alias("_id"), F.explode(slices).alias("s")).select(
        "_id", "s.band", "s.bucket"
    )
    return (
        b.join(b.withColumnRenamed("_id", "_id2"), ["band", "bucket"])
        .where(F.col("_id") < F.col("_id2"))
        .select(F.col("_id").alias("id_a"), F.col("_id2").alias("id_b"))
        .distinct()
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH bucketing +
    exact cosine verify inside buckets (JVM fold for the dot product).

    ``dim`` is required: the array length is not in the schema, and
    probing it with ``first()`` would run a driver action inside plan
    construction (the round-1 review flagged exactly that)."""
    from .ann import _bucket_col, _with_matrix

    if dim is None:
        raise ValueError("pass dim explicitly (vector length)")
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = emb.select(F.col(id_col).alias("_id"), v.alias("v"))
    # planes ride in as a broadcast 1-row matrix column (not n×dim plan
    # literals — plan-size blowup at embedding dim, see ann._with_matrix)
    sig = (
        _with_matrix(e, planes, "planes")
        .withColumn("bucket", _bucket_col(F.col("v"), F.col("planes")))
        .select("_id", "v", "bucket")
    )
    o = sig.select(
        F.col("_id").alias("_id2"), F.col("v").alias("v2"), F.col("bucket")
    )
    dot = F.expr("aggregate(zip_with(v, v2, (x, y) -> x * y), 0D, (a, b) -> a + b)")
    na = F.sqrt(F.expr("aggregate(v, 0D, (a, b) -> a + b * b)"))
    nb = F.sqrt(F.expr("aggregate(v2, 0D, (a, b) -> a + b * b)"))
    return (
        sig.join(o, "bucket")
        .where(F.col("_id") < F.col("_id2"))
        .withColumn("cosine", dot / (na * nb))
        .where(F.col("cosine") >= threshold)
        .select(F.col("_id").alias("id_a"), F.col("_id2").alias("id_b"), "cosine")
    )


def jaccard_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs — the verify stage
    after LSH blocking. Joins each side's distinct shingle set onto
    ``pairs`` (id_a, id_b) and keeps pairs with ``jaccard >= threshold``.

    Scale shape: two equi-joins keyed by doc id; the candidate set after
    banding is ≪ |corpus|², so the join input is bounded by LSH recall,
    not by the corpus size. The shingle sets are built per side from the
    corpus scan (column-pruned to id + text)."""
    toks = docs.select(
        F.col(id_col).alias("_vid"), _tokens(F.col(text_col)).alias("toks")
    )
    toks = toks.select(
        "_vid", F.array_distinct(_shingle_arr("toks", shingle)).alias("_tset")
    )
    a = toks.select(F.col("_vid").alias("id_a"), F.col("_tset").alias("_ta"))
    b = toks.select(F.col("_vid").alias("id_b"), F.col("_tset").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("double")
    union = F.size(F.array_union("_ta", "_tb")).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def neardup_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    jaccard_threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """End-to-end near-duplicate corpus deduplication — the standard
    training-data pipeline flow: MinHash-LSH candidate generation →
    exact shingle-set Jaccard verify → connected components over the
    verified near-dup graph → canonical keep election per cluster.

    Returns one row per input doc: ``(id, cluster_id, cluster_size,
    keep)`` where ``cluster_id`` is the numeric-min member of the doc's
    near-dup component, singletons are their own cluster of size 1, and
    ``keep`` marks the elected representative (the filtered corpus is
    ``out.where("keep")`` joined back to the docs).

    Scale shape: the corpus is touched by (1) the signature aggregate
    (one shuffle, map-side combine), (2) the verify joins (bounded by
    the LSH candidate count, not |corpus|²), and (3) the final keep-list
    left join on the id key. The CC runs on the *verified near-dup
    graph* only — orders of magnitude smaller than the corpus — and
    short-circuits to the driver scatter-min under the measured
    threshold (closure.connected_components)."""
    from .closure import connected_components

    cand = minhash_lsh_candidates(
        docs, id_col, text_col, n_hashes, bands, shingle, bucket_cap
    )
    edges = jaccard_verify_pairs(
        docs, cand, id_col, text_col, jaccard_threshold, shingle
    )
    cc = connected_components(
        edges.select(
            F.col("id_a").cast("string").alias("src"),
            F.col("id_b").cast("string").alias("dst"),
        )
    )
    id_type = docs.schema[id_col].dataType
    memb = cc.select(
        F.col("resource").cast(id_type).alias(id_col), "canonical_id"
    )
    # canonical_id from CC is the lexicographic string min; re-elect the
    # numeric min per component so "100" < "99" string order never leaks
    clus = memb.groupBy("canonical_id").agg(
        F.min(id_col).alias("cluster_id"), F.count("*").alias("cluster_size")
    )
    memb = memb.join(clus, "canonical_id").select(
        id_col, "cluster_id", "cluster_size"
    )
    cid = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return (
        docs.select(id_col)
        .join(memb, id_col, "left")
        .select(
            id_col,
            cid.alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            (F.col(id_col) == cid).alias("keep"),
        )
    )


def segment_array(text_col: str, chunk_tokens: int):
    """Fixed ``chunk_tokens``-token segment array over a text column —
    shared by the batch and streaming segment-dedup passes so the two
    cannot drift on splitting semantics."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    return F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_tokens + F.lit(1), chunk_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Corpus-wide segment-level exact dedup — the C4-style
    repeated-paragraph drop adapted to untagged text: the token stream
    splits into fixed ``chunk_tokens``-token segments, every repeated
    segment after its first corpus occurrence (ordered by
    (id, segment index)) is dropped, and each document's surviving
    segments reassemble in order. Returns (id, text); documents whose
    every segment was seen earlier vanish (full duplicates).

    Scale shape: one shuffle keyed on the segment string — high
    cardinality by construction (a segment repeated enough to skew a
    partition is exactly the boilerplate the pass exists to delete, and
    even then the window only ranks that one key's rows) — then one
    partial-aggregated groupBy per doc. Fully JVM-side; no Python."""
    from pyspark.sql import Window

    seg = segment_array(text_col, chunk_tokens)
    chunks = docs.select(
        F.col(id_col),
        F.posexplode(seg).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_idx")
    kept = (
        chunks.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("text")
    )


def semdedup(
    corpus: DataFrame,
    cents,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication over an embedding column (the SemDeDup
    recipe, Abbas et al. 2023): cluster the corpus by nearest spherical
    k-means centroid, compare pairs *within* a cluster by exact cosine,
    and drop every vector that has an earlier-id cluster-mate with
    cosine ≥ ``tau``. Returns the kept rows' ids.

    This is the embedding-space complement of MinHash near-dup removal:
    it catches paraphrases and translations that share no shingles.

    Scale shape: centroid assignment is a broadcast matrix fold per row
    (``ann._cell_col`` — no shuffle); the quadratic cosine check runs
    only inside a cluster, so sizing ``n_cells ≈ N / target_cell`` when
    training ``cents`` (same sizing law as ann.plan_lsh) bounds per-task
    pair work at target_cell² regardless of corpus size; the verdict is
    applied with one left-anti join on the id key. Assignment is
    cosine-based and therefore scale-invariant — positively-scaled
    duplicates always share their original's cell, so exact duplicates
    can never escape comparison across a cell boundary.
    """
    from .ann import _as_double, _cell_col, _with_matrix, _DOT

    c = (
        _with_matrix(
            corpus.select(
                F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
            ),
            cents,
            "cents",
        )
        .withColumn("cell", _cell_col(F.col("v"), F.col("cents"), top=1)[0]["cell"])
        .drop("cents")
    )
    a = c.select(F.col("vid").alias("id_a"), F.col("v").alias("qv"), "cell")
    b = c.select(F.col("vid").alias("id_b"), F.col("v").alias("cv"), "cell")
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.expr(_DOT)
            / (
                F.sqrt(F.aggregate(F.col("qv"), F.lit(0.0), lambda x, y: x + y * y))
                * F.sqrt(F.aggregate(F.col("cv"), F.lit(0.0), lambda x, y: x + y * y))
            )
            >= F.lit(tau)
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return corpus.select(id_col).join(dropped, id_col, "left_anti")


def incremental_exact_dedup(
    batch: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    fp_col=None,
) -> DataFrame:
    """Admission filter for corpus growth — the production shape of
    exact dedup at 100 TB: a new batch is never deduped against the
    whole corpus by rescanning it, it is (1) deduped within itself
    (first id wins per fingerprint) and (2) anti-joined against the
    accumulated fingerprint store. Returns the admitted batch rows with
    their ``fingerprint`` column; appending exactly that column to
    ``seen`` (the caller owns the store, e.g. a checkpoint snapshot)
    keeps the invariant for the next batch.

    ``seen`` must expose a ``fingerprint`` column; ``fp_col`` defaults
    to the library fingerprint (xxhash64 over the token-normalized
    text — pass e.g. an md5 expression when an external system owns the
    store). Scale shape: one window shuffle keyed on the high-
    cardinality fingerprint + one anti join on the same key; the store
    side is |corpus| fingerprints, 8-16 bytes each, never the text."""
    from pyspark.sql import Window

    if fp_col is None:
        from ..functions.text import fingerprint as _fp

        fp_col = _fp(F.col("text"))
    b = batch.withColumn("fingerprint", fp_col)
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        b.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .join(seen.select("fingerprint"), "fingerprint", "left_anti")
    )


def _span_windows(toks_df: DataFrame, k: int) -> DataFrame:
    """(_id, pos, fp) sliding ``k``-token window fingerprints over a
    (_id, toks) DataFrame — built JVM-side per row (``transform`` over
    the token array, never a positional self-join) and keyed by an
    8-byte ``xxhash64`` so downstream shuffles move (id, pos, int64)
    rows, not window text. Shared by the batch, incremental, and store
    passes so they cannot drift on windowing semantics."""
    return (
        toks_df.where(F.size("toks") >= k)
        .select(
            "_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k} + 1),"
                    f" i -> struct(i - 1 AS pos,"
                    f" xxhash64(concat_ws(' ', slice(toks, i, {k}))) AS fp))"
                )
            ).alias("w"),
        )
        .select("_id", "w.pos", "w.fp")
    )


def span_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
) -> DataFrame:
    """Distinct sliding-window fingerprints (``fp: long``) of a corpus —
    the store side of ``incremental_span_dedup`` (seed it from the
    already-admitted corpus, then append each batch's ``new_fps``)."""
    toks = docs.select(
        F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("toks")
    )
    return _span_windows(toks, int(window_tokens)).select("fp").distinct()


def repeated_span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
) -> DataFrame:
    """Exact-substring dedup over SLIDING token windows — the span-level
    complement to ``segment_dedup``'s fixed chunks (which miss repeats
    that straddle a chunk boundary or start mid-chunk). Every
    ``window_tokens``-token window of every document is fingerprinted;
    a window whose fingerprint occurs earlier in the corpus (ordered by
    (id, position), including earlier in the SAME document) marks its
    token span for deletion; overlapping deleted spans merge by
    construction (their covered positions union). Documents reassemble
    from surviving tokens; fully-covered documents vanish. Documents
    shorter than ``window_tokens`` pass through untouched — a repeat
    must be at least one full window long to be deleted, which is the
    point: short n-grams repeat by chance, ≥ window-length spans repeat
    by duplication.

    Scale shape (all linear, all high-cardinality shuffle keys):

      1. windows are built JVM-side per row (``transform`` over the
         token array — never a positional self-join) and keyed by an
         8-byte ``xxhash64`` fingerprint, so the shuffle moves
         (id, pos, int64) rows, not window text;
      2. first occurrence per fingerprint is ``min(struct(id, pos))`` —
         a map-side-combinable aggregate, NOT a row_number window, so a
         boilerplate window repeated 10⁶ × partially aggregates before
         the shuffle; the join back is a plain hash join (AQE skew
         split applies — no order-sensitive operator on the hot key);
      3. covered positions and the token anti-join are keyed by
         (id, position) — uniformly spread by construction;
      4. reassembly is one partial-aggregated groupBy per document.

    The fingerprint is 64-bit, so two distinct windows collide with
    probability ≈ n²/2⁶⁵ (≈ 10⁻⁸ even at 10¹² windows); a collision
    deletes a non-duplicated span — acceptable for corpus curation, and
    the reason production dedup pipelines ship the same trade.
    """
    return _excise_spans(docs, id_col, text_col, int(window_tokens))[0]


def _excise_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int, seen: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """The span-excision body of ``repeated_span_dedup`` and
    ``incremental_span_dedup``: every ``k``-token window that is not the
    first (id, position) occurrence of its fingerprint — or, with
    ``seen``, whose fingerprint is in that store — has its span deleted,
    and each document reassembles from its surviving tokens. Returns
    ``(admitted, first)``: (id, text) rows and the first-occurrence
    (fp, first) rows."""
    toks = docs.select(
        F.col(id_col).alias("_id"), _tokens(F.col(text_col)).alias("toks")
    )
    win = _span_windows(toks, k)
    first = win.groupBy("fp").agg(F.min(F.struct("_id", "pos")).alias("first"))
    dup = (
        win.join(first, "fp")
        .where(~((F.col("_id") == F.col("first._id")) & (F.col("pos") == F.col("first.pos"))))
        .select("_id", "pos")
    )
    if seen is not None:
        dup = dup.unionByName(win.join(seen.select("fp"), "fp", "left_semi").select("_id", "pos"))
    covered = dup.select(
        "_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias("i")
    ).distinct()
    tok_rows = toks.select("_id", F.posexplode("toks").alias("i", "tok"))
    kept = tok_rows.join(covered, ["_id", "i"], "left_anti")
    admitted = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text")
    ).withColumnRenamed("_id", id_col)
    return admitted, first


def incremental_span_dedup(
    batch: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
):
    """Admission form of ``repeated_span_dedup`` for corpus growth — the
    production shape at 100 TB: a new batch is never span-deduped against
    the whole corpus by re-fingerprinting it. The batch's sliding windows
    are excised when they (1) repeat within the batch itself (first
    (id, position) occurrence wins, exactly the batch operator's rule) or
    (2) hit the accumulated fingerprint store ``seen`` — an ``fp: long``
    column holding every window fingerprint admitted so far.

    Returns ``(admitted, new_fps)``: ``admitted`` is (id, text) after
    excision (fully-covered documents vanish); ``new_fps`` is the batch's
    first-occurrence fingerprints not already in the store — appending
    exactly that column to ``seen`` (the caller owns the store, e.g. a
    checkpoint snapshot) keeps the invariant for the next batch. Stored
    fingerprints are of the ORIGINAL batch text (pre-excision), matching
    the batch operator's corpus-order first-occurrence semantics; windows
    newly formed by excision-induced adjacency are deliberately not
    fingerprinted.

    Scale shape: identical to ``repeated_span_dedup`` (aggregate
    first-occurrence on the 8-byte fingerprint, (id, position) anti-join)
    plus one semi/anti join pair against the store — |store| is total
    corpus windows, 8 bytes each, never the text."""
    admitted, first = _excise_spans(batch, id_col, text_col, int(window_tokens), seen)
    new_fps = first.select("fp").join(seen.select("fp"), "fp", "left_anti")
    return admitted, new_fps
