"""Structured Streaming entry points. The reference is strictly batch
(SURVEY.md §2.3); these extend the engine for continuous ingestion of the
docs/events streams: incremental mention extraction, sessionization and
dedup with watermarked late-data handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..model import DOCS_SCHEMA
from ..operators.extract import DEFAULT_RULES, extract_mentions


def _text_of_spans() -> Column:
    """A doc row's text spans joined by a space (media spans skipped)."""
    return F.concat_ws(
        " ",
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
            lambda s: s["text"],
        ),
    )


def _drain(writer: DataStreamWriter, checkpoint: str | None = None) -> StreamingQuery:
    """Start ``writer`` (checkpointed at ``checkpoint`` when given), run it
    over the input available now, and return the stopped query."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    return q


def stream_docs(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet docs directory (swap for kafka in prod)."""
    return spark.readStream.schema(DOCS_SCHEMA).parquet(path)


def streaming_mentions(docs_stream: DataFrame) -> DataFrame:
    """The S1 extraction stage applied to a stream — stateless, so the
    same JVM-side regex plan runs micro-batch by micro-batch."""
    return extract_mentions(docs_stream, DEFAULT_RULES)


def stateful_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per
    user, close a session when no event arrives within ``gap_seconds``.
    Emits one row per closed session (user_id, session_start, session_end,
    n_events); the open session rides in group state across micro-batches
    and is closed by event-time timeout once the watermark passes it.

    This is the streaming counterpart of the batch ``sessionize`` query
    (entry_queries.q_sessionize) — same gap semantics.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id string, session_start timestamp, session_end timestamp,"
        "n_events long"
    )
    state_schema = "start long, last long, n long"

    def fn(key, pdfs, state):
        user = key[0]
        closed = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((user, start, last, n))
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            ts = (
                pd.to_datetime(rows["ts"]).astype("int64") // 1_000_000_000
            ).sort_values()
            start, last, n = state.get if state.exists else (None, None, 0)
            for t in ts:
                t = int(t)
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_seconds:
                    closed.append((user, start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = max(last, t), n + 1
            state.update((start, last, n))
            state.setTimeoutTimestamp((last + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime([c[1] for c in closed], unit="s"),
                    "session_end": pd.to_datetime([c[2] for c in closed], unit="s"),
                    "n_events": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_exact_dedup(
    docs_stream: DataFrame,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence-wins exact dedup over a document stream — the
    streaming counterpart of the batch ``exact_dedup`` operator: content
    fingerprint = xxhash64 over the span texts (JVM-side), duplicates
    across micro-batches dropped through streaming dropDuplicates state.

    With ``ts_col`` (an event-time column) the dedup state is bounded by
    the watermark (``dropDuplicatesWithinWatermark`` — duplicates are
    only guaranteed dropped within the watermark horizon, the standard
    bounded-state trade-off); without one, state holds one entry per
    distinct fingerprint for the life of the query — exact, but sized by
    the distinct corpus (fine for bounded backfills, not an unbounded
    firehose).
    """
    fp = F.xxhash64(
        F.concat_ws(
            "\x1f",
            F.transform(
                "spans", lambda s: F.coalesce(s["text"], s["media_ref"])
            ),
        )
    )
    out = docs_stream.withColumn("fp", fp)
    if ts_col is not None:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        ).drop("fp")
    return out.dropDuplicates(["fp"]).drop("fp")


def run_stream_to_memory(stream_df: DataFrame, name: str, mode: str = "append"):
    """Drive a streaming query to completion over the currently available
    input (test harness path: memory sink + processAllAvailable)."""
    return _drain(
        stream_df.writeStream.outputMode(mode).format("memory").queryName(name)
    )


def streaming_curate(
    docs_stream: DataFrame,
    quality_min: float = 0.3,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming corpus curation over interleaved docs: exact dedup
    (first-occurrence wins across micro-batches) → quality floor on the
    concatenated text spans → PII redaction inside each text span. The
    quality and redaction stages reuse the exact batch implementations
    (``functions/text.quality_score``, ``functions/pii.redact_text``) as
    stateless projections, so batch and streaming curation cannot
    drift; the only state is the dedup fingerprint set (watermark-
    bounded when ``ts_col`` is given). Media spans pass through
    untouched and the span sequence (kind, media_ref, offset, order) is
    preserved — only text content is rewritten."""
    from ..functions.pii import redact_text
    from ..functions.text import quality_score

    deduped = streaming_exact_dedup(docs_stream, ts_col, watermark)
    redacted_spans = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(s["kind"] == "text", redact_text(s["text"]))
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return (
        deduped.withColumn("__q", quality_score(_text_of_spans()))
        .where(F.col("__q") >= quality_min)
        .withColumn("spans", redacted_spans)
        .withColumn("quality", F.round("__q", 6))
        .drop("__q")
    )


def streaming_triples(
    docs_stream: DataFrame,
    canonical: DataFrame,
    rules: tuple = DEFAULT_RULES,
) -> DataFrame:
    """Incremental KG ingest — the streaming analog of batch S4: documents
    arriving on the stream are scanned for mentions (the S1 stateless
    regex pass), linked against the *existing* canonical entity map (the
    batch pipeline's ``s3_canonical`` snapshot, a bounded stream-static
    broadcast join), and emitted as the exact (s, p, o_kind, o_value,
    o_datatype, o_lang, doc_id, span_idx) rows batch S4 materializes —
    the standard bootstrap-then-stream shape: the batch build assigns
    canonical ids; the stream keeps the graph current between rebuilds.

    No streaming state anywhere. Label triples are per-mention
    projections shared verbatim with the batch stage
    (``plans.pipeline.label_triples``). Batch S4's only set operation —
    ``same_as_triples(...).distinct()`` — is re-expressed statelessly:
    since ``resource = doc_id``, sameAs duplicates can only arise within
    a single document row (two rules or two matches hitting one span),
    so one row per (doc, text span with ≥1 rule match) is exactly the
    batch distinct, and a document row is atomic within a micro-batch.
    Resources absent from the map keep their own id (the batch coalesce
    fallback); the next batch re-canonicalization supersedes them.
    """
    from ..plans.pipeline import label_triples, link_canonical

    mentions = extract_mentions(docs_stream, rules)
    labels = label_triples(link_canonical(mentions, canonical, broadcast=True))

    spans = docs_stream.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).where(F.col("span.kind") == "text")
    matched = F.lit(False)
    for r in rules:
        matched = matched | (
            F.size(
                F.regexp_extract_all(
                    F.col("span.text"), F.lit(r.pattern), F.lit(r.group)
                )
            )
            > 0
        )
    sa = (
        spans.where(matched)
        .select(
            F.col("doc_id").alias("resource"),
            F.col("span_idx").cast("int").alias("span_idx"),
        )
        .join(F.broadcast(canonical), "resource", "left")
        .withColumn(
            "canonical_id", F.coalesce("canonical_id", F.col("resource"))
        )
    )
    same_as = sa.select(
        F.concat(F.lit("urn:entity:"), F.col("canonical_id")).alias("s"),
        F.lit("sameAs").alias("p"),
        F.lit("iri").alias("o_kind"),
        F.concat(F.lit("urn:doc:"), F.col("resource")).alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit("").alias("o_lang"),
        F.col("resource").alias("doc_id"),
        "span_idx",
    )
    return labels.unionByName(same_as)


def streaming_segment_dedup(
    docs_stream: DataFrame,
    ts_col: str | None = None,
    watermark: str = "1 hour",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Streaming counterpart of the batch ``segment_dedup`` (the C4
    repeated-paragraph drop): each document's concatenated text spans
    split into fixed ``chunk_tokens``-token segments (the shared
    ``dedup.segment_array`` splitter, so batch and streaming cannot
    drift), and a segment seen in any earlier micro-batch is dropped —
    arrival order replaces the batch operator's (id, index) total
    order, the usual batch→stream ordering trade. Emits the surviving
    ``(doc_id, chunk_idx, chunk)`` rows; reassembly is the reader's
    ordered concat — a streaming groupBy per document would hold every
    document's state open forever, while the segment stream appends.
    Dedup state is one entry per distinct segment, watermark-bounded
    when ``ts_col`` is given."""
    from ..operators.dedup import segment_array

    cols = [F.col("doc_id"), _text_of_spans().alias("_text")] + (
        [F.col(ts_col)] if ts_col is not None else []
    )
    chunks = docs_stream.select(*cols).select(
        "doc_id",
        *([ts_col] if ts_col is not None else []),
        F.posexplode(segment_array("_text", chunk_tokens)).alias(
            "chunk_idx", "chunk"
        ),
    )
    if ts_col is not None:
        return chunks.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["chunk"]
        )
    return chunks.dropDuplicates(["chunk"])


def streaming_chunks(
    docs_stream: DataFrame, window: int, stride: int | None = None
) -> DataFrame:
    """Streaming training-sequence chunking: each arriving document's
    concatenated text spans are sliced into fixed token windows by the
    batch ``chunk.chunk_documents`` operator itself — the slicer is a
    stateless row-local projection, so it runs unchanged in append mode
    with zero state and batch/streaming chunking cannot drift. Emits
    (doc_id, chunk_idx, chunk_text, n_tokens)."""
    from ..operators.chunk import chunk_documents

    return chunk_documents(
        docs_stream.select("doc_id", _text_of_spans().alias("text")), window, stride
    )


def run_lm_score_stream(
    docs_stream: DataFrame,
    model,
    out_path: str,
    checkpoint: str | None = None,
):
    """Streaming LM quality scoring against a persisted reference model
    (``operators/lm_quality.BigramModel``): each micro-batch is scored
    by the exact batch ``score_bigram_model`` via ``foreachBatch`` and
    appended to ``out_path``. Per-document scores depend only on the
    document's own transitions and the STATIC model tables, so
    per-batch application is exact — no cross-batch state, and batch /
    streaming scores cannot drift (asserted by the parity test). This
    is the standard Structured Streaming escape hatch for operators
    whose batch form ends in a non-windowed aggregation: the per-doc
    groupBy would need a watermark in append mode, but inside
    foreachBatch it is an ordinary batch aggregation. Drives the query
    to completion over the available input and returns it stopped."""
    from ..operators.lm_quality import score_bigram_model

    target = docs_stream.select("doc_id", _text_of_spans().alias("text"))

    def _batch(batch_df: DataFrame, _epoch: int) -> None:
        score_bigram_model(batch_df, model).write.mode("append").parquet(
            out_path
        )

    return _drain(target.writeStream.foreachBatch(_batch), checkpoint)


def run_asof_enrich_stream(
    events_stream: DataFrame,
    dim: DataFrame,
    out_path: str,
    on: str,
    time_col: str,
    checkpoint: str | None = None,
    right_cols: list[str] | None = None,
    tolerance_sec: int | None = None,
):
    """Streaming as-of enrichment against a STATIC dimension snapshot:
    each micro-batch runs the exact batch ``operators/temporal.asof_join``
    via ``foreachBatch`` and appends to ``out_path``.  Per-batch
    application is exact because every output row depends only on its
    own left row and the static right side — no cross-batch state, so
    batch and streaming enrichments cannot drift (asserted by the
    parity test).  A slowly-changing dimension swaps in by re-reading
    the snapshot inside the closure (the standard stream-static
    pattern); true bi-temporal stream-stream as-of would need
    watermarked state and is out of scope here."""
    from ..operators.temporal import asof_join

    def _batch(batch_df: DataFrame, _epoch: int) -> None:
        asof_join(
            batch_df, dim, on=on, time_col=time_col,
            right_cols=right_cols, tolerance_sec=tolerance_sec,
        ).write.mode("append").parquet(out_path)

    return _drain(events_stream.writeStream.foreachBatch(_batch), checkpoint)


def run_span_dedup_stream(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str | None = None,
    window_tokens: int = 8,
):
    """Streaming counterpart of ``repeated_span_dedup`` via the batch
    admission form: each micro-batch's spans are excised when repeated
    in-batch or present in the persisted fingerprint store
    (``operators/dedup.incremental_span_dedup``), admitted (doc_id,
    text) rows append to ``out_path``, and the batch's first-occurrence
    fingerprints append to ``store_path`` — so a span admitted in any
    earlier micro-batch is excised from every later one. Arrival order
    replaces the batch operator's corpus-wide (id, position) total
    order, the usual batch→stream ordering trade (same as
    ``streaming_segment_dedup``). Cross-batch state is the store
    parquet, not executor memory: 8 bytes per distinct window ever
    admitted, shared with any batch job seeding or consuming the same
    store. Duplicate fingerprints from a replayed epoch are harmless
    (the store probe is a semi-join — set semantics); exactly-once on
    the admitted output is the sink's concern, as in every
    ``foreachBatch`` pass here. Drives the query to completion over the
    available input and returns it stopped."""
    from ..operators.dedup import incremental_span_dedup

    spark = docs_stream.sparkSession

    target = docs_stream.select("doc_id", _text_of_spans().alias("text"))

    def _batch(batch_df: DataFrame, _epoch: int) -> None:
        try:
            seen = spark.read.parquet(store_path)
        except Exception:
            seen = spark.createDataFrame([], "fp long")
        admitted, new_fps = incremental_span_dedup(
            batch_df, seen, window_tokens=window_tokens
        )
        # new_fps is consumed twice (store append + the admitted plan
        # shares the seen scan); materialize admitted first so the
        # store append cannot race the probe within this epoch
        admitted.write.mode("append").parquet(out_path)
        new_fps.write.mode("append").parquet(store_path)

    return _drain(target.writeStream.foreachBatch(_batch), checkpoint)


def run_canonical_stream(
    edges_stream: DataFrame,
    map_path: str,
    checkpoint: str | None = None,
):
    """Streaming KG admission: correspondence edges arrive as a stream
    and a persisted canonical map (parquet at ``map_path``, columns
    (resource, canonical_id)) is maintained via
    ``operators/closure.incremental_canonical`` — each micro-batch costs
    O(|batch|) (CC over the label-level merge graph only), never a
    rescan of edge history, so the stream's steady-state cost is
    independent of how large the accumulated graph has grown.  The map
    is rewritten atomically-enough for this sandbox (overwrite of the
    parquet dir after the new map is computed); production would swap an
    Iceberg table commit in.  Batch jobs reading the same path see every
    admitted batch (same store-sharing contract as
    ``run_span_dedup_stream``).  A replayed epoch is idempotent:
    re-admitting edges whose endpoints already share a canonical id is
    a no-op merge.  Drives the query to completion and returns it
    stopped."""
    from ..operators.closure import incremental_canonical

    spark = edges_stream.sparkSession

    def _batch(batch_df: DataFrame, _epoch: int) -> None:
        try:
            current = spark.read.parquet(map_path)
            have = True
        except Exception:
            current = spark.createDataFrame([], "resource string, canonical_id string")
            have = False
        updated = incremental_canonical(current, batch_df).localCheckpoint(
            eager=True
        )
        # localCheckpoint above materializes the new map BEFORE the
        # overwrite touches the directory the plan was reading from
        mode = "overwrite" if have else "error"
        updated.write.mode(mode).parquet(map_path)

    return _drain(edges_stream.writeStream.foreachBatch(_batch), checkpoint)
