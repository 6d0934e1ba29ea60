"""File-source Structured Streaming run of the reference message pipeline.

Reference topology (/root/reference/src/main/java/com/cansever/consumer/
BackupMessageConsumer.java:33-63): checkpointed env -> Kafka source -> Avro
decode -> dual Cassandra sink.  Here: checkpointed stream -> file source
(the Kafka twin; ``sources/kafka.py`` builds the broker-backed variant of
the same reader) -> the IDENTICAL ``messages_from_events_df`` transform ->
two file sinks:

- **detail** (O12): every message row, partitioned by ``date_partition``;
- **summary** (O11): the distinct ``(username, jid, date_partition)`` set
  via *stateful streaming* ``dropDuplicates`` -- the exact translation of
  the reference's Cassandra upsert convergence: each triple is emitted
  exactly once across all micro-batches.  State is bounded by key
  cardinality (month granularity keeps it sane -- SURVEY.md section 7 risk
  register); ``dropDuplicatesWithinWatermark`` is the alternative when
  event-time bounds are acceptable.

Exactly-once: each query writes through Spark's file-sink commit log under
its own ``checkpointLocation``.  On kill/restart the WAL replays unfinished
batches and the sink log ignores already-committed files -- no loss, no
dupes (SURVEY.md section 5 case 6; verified by tests/test_streaming.py).

Scale: the transform is narrow (one codegen stage, mirroring the
reference's shuffle-free chain); the summary dropDuplicates is the single
stateful shuffle on the summary key -- the same shape as the batch plan,
so batch benches are an honest cost model for the stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators import message_pipeline as mp

#: Schema of the file-source stream (the events fixture shape with a proper
#: timestamp column; streaming file sources require a declared schema).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """The file-source twin of the reference's Kafka source (O1): new parquet
    files appearing under ``input_dir`` are the unbounded record stream."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    # Only pick up parquet files: a stray foreign file in the watched dir
    # must not poison the stream (found by fault-injection during verify).
    reader = reader.option("pathGlobFilter", "*.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_detail_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """O12 detail sink as a streaming query: full message rows, partitioned
    by month (the Cassandra partition-key design, CassandraOutputFormat.java:106)."""
    ev = stream_events(spark, input_dir)
    detail = mp.detail_table(mp.messages_from_events_df(ev), encrypt=True)
    writer = (
        detail.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("date_partition")
        .outputMode("append")
        .queryName("message_history_detail")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_summary_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """O11 summary sink as a *stateful* streaming query: streaming
    dropDuplicates emits each distinct (username, jid, month) exactly once
    across batches -- the upsert-convergence semantics of the reference's
    summary table, delivered append-only."""
    ev = stream_events(spark, input_dir)
    msgs = mp.messages_from_events_df(ev)
    summary = mp.summary_distinct(msgs)
    writer = (
        summary.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("message_history_summary")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_summary_stream_watermarked(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "45 days",
) -> StreamingQuery:
    """O11 with BOUNDED state: ``dropDuplicatesWithinWatermark`` evicts a
    key's dedup state once the watermark passes it.  With a watermark that
    covers the month span this equals the exact distinct set; with a shorter
    one, a key recurring after eviction is re-emitted -- the documented
    trade of state size vs exactness at 100 TB (the unbounded variant in
    :func:`run_summary_stream` relies on month-granularity keys staying
    small instead)."""
    ev = stream_events(spark, input_dir)
    msgs = mp.messages_from_events_df(ev)
    summary = (
        msgs.withWatermark("sent_ts", watermark)
        .select("username", "jid",
                F.concat(F.date_format("sent_ts", "yyyyMM"), F.lit("M")).alias("date_partition"),
                "sent_ts")
        .dropDuplicatesWithinWatermark(["username", "jid", "date_partition"])
        .drop("sent_ts")
    )
    return (
        summary.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("message_history_summary_watermarked")
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(ev: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event counts with a watermark: the streaming half of
    the batch ``ev_tumbling_hourly`` query.  In append mode a window is
    emitted once the watermark passes its end -- late rows beyond
    ``watermark`` are dropped, which is the documented late-data policy."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def run_dual_sink_stream(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference's fan-out, faithfully: ONE stream, TWO sinks, one
    checkpoint (CassandraOutputFormat.java:108-132 writes summary then
    detail per record from the same stream).

    ``foreachBatch`` persists each micro-batch once and issues both writes
    from it.  Versus the two-independent-queries layout
    (run_detail_stream + run_summary_stream), this reads and decodes the
    input ONCE and cannot let the two sinks drift to different offsets --
    the atomicity upgrade SURVEY.md section 3.3 commits to.  Restart
    safety: each write lands in a ``_batch_id`` partition with dynamic
    partition overwrite, so a REPLAYED batch replaces its own partition
    instead of appending dupes -- idempotence by deterministic batch id.

    Summary semantics match the reference at the storage model each side
    has: Cassandra dedupes re-inserts at storage (upsert); parquet cannot,
    so the summary table here is the upsert LOG (per-batch distinct) and
    the converged set is its ``SELECT DISTINCT`` read view -- exactly the
    O11 convergence statement.  When consumers need the distinct set
    materialized append-only instead, that is what the stateful
    :func:`run_summary_stream` variant provides.
    """
    ev = stream_events(spark, input_dir)
    msgs = mp.messages_from_events_df(ev)

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            detail = mp.detail_table(batch_df, encrypt=True)
            (
                detail.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(f"{out_root}/message_history")
            )
            summary = mp.summary_distinct(batch_df)
            (
                summary.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(f"{out_root}/message_history_summary")
            )
        finally:
            batch_df.unpersist()

    return (
        msgs.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("dual_sink_fanout")
        .trigger(availableNow=True)
        .start()
    )


def session_event_counts(ev: DataFrame, gap: str = "6 hours", watermark: str = "12 hours") -> DataFrame:
    """Session windows (6-hour inactivity gap) with a watermark: the
    streaming half of the batch ``ev_session_windows`` query.  Unlike
    tumbling windows, session state MERGES across micro-batches -- an
    open session absorbs later events (and adjacent sessions) until the
    watermark passes ``last event + gap``, and only then is the closed
    session emitted, exactly once, in append mode."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def run_session_window_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Session-window aggregate stream in append mode: one input file per
    micro-batch so the watermark advances and closed sessions flush."""
    ev = stream_events(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    agg = session_event_counts(ev)
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("session_event_counts")
        .trigger(availableNow=True)
        .start()
    )


def run_stream_static_taxonomy(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream-static join: the message stream classified against the static
    18-code taxonomy dimension (O22's lookup-join form, streaming).

    The static side is re-resolved per micro-batch and broadcast -- no
    state, no watermark needed; this is the streaming shape for every
    enrich-against-dimension step in the reference pipeline family."""
    from ..functions import taxonomy, xml_fns

    ev = stream_events(spark, input_dir)
    msgs = mp.messages_from_events_df(ev)
    typed = msgs.select(
        "msg_id", xml_fns.stanza_type_fast(F.col("stanza")).alias("type_code")
    )
    dim = taxonomy.lookup_df(spark)
    enriched = typed.join(F.broadcast(dim), "type_code")
    return (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("stream_static_taxonomy")
        .trigger(availableNow=True)
        .start()
    )


def run_stream_stream_conversion_join(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream-stream interval join: each ``purchase`` joined to the same
    user's ``click`` events in the preceding hour -- conversion attribution.

    Both sides carry watermarks and the join predicate bounds event time
    (click in [purchase - 1h, purchase]), so Spark can size the join state
    and EVICT rows the watermark has passed -- the requirement that makes
    stream-stream joins feasible at all (unbounded state otherwise).  One
    file per trigger so the watermark advances across micro-batches and
    pairs spanning batch boundaries prove the buffered-state path."""
    clicks = (
        stream_events(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")
    return (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("stream_stream_conversions")
        .trigger(availableNow=True)
        .start()
    )


def run_windowed_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Windowed aggregate stream in append mode: one input file per
    micro-batch so the watermark advances between batches and closed
    windows flush to the file sink."""
    ev = stream_events(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    agg = windowed_event_counts(ev)
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("windowed_event_counts")
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Two-stage minute-CUSUM pipeline (the SCALING.md Table 12 hot-key
# mitigation, deployed)
# --------------------------------------------------------------------------

#: Schema of the staged per-minute partials (stage 1 -> stage 2 contract).
MINUTE_PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("minute_ts", T.TimestampType()),
        T.StructField("sc", T.LongType()),
        T.StructField("c", T.LongType()),
    ]
)


def minute_cents_partials(ev: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Stage 1 of the minute-CUSUM pipeline: per-(event_type, minute)
    ``(sum cents, count)`` partials as a watermarked 1-minute tumbling
    aggregation.  This is the operator that REMOVES the per-event
    monitor's hot-key bound: the JVM does map-side partial aggregation
    before the (type, minute) shuffle, so no single task ever receives a
    key's raw rows, and downstream volume is bounded by minutes, not
    events.  The watermark is declared BEFORE the value filter so a
    NULL-value sentinel row can advance event time (and flush the final
    windows of a bounded drain) without contributing to any partial.
    Cents use the same decimal cast as the batch twin
    (plans/events_queries.py:cusum_minute_rows)."""
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        ev.withWatermark("ts", watermark)
        .where(F.col("value").isNotNull())
        .groupBy("event_type", F.window("ts", "1 minute").alias("w"))
        .agg(F.sum(cents).alias("sc"), F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            F.col("w.start").alias("minute_ts"),
            "sc",
            "c",
        )
    )


def run_cusum_minute_stage1(
    spark: SparkSession,
    input_dir: str,
    stage_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Drain stage 1: events -> per-minute partials -> append-mode parquet
    staging sink.  Windows flush when the watermark passes them; a bounded
    drain flushes its tail via a sentinel row (ts beyond the last real
    minute, value NULL) appended by the driver harness -- the standard
    punctuation pattern for finite replays of an unbounded design."""
    ev = stream_events(spark, input_dir, max_files_per_trigger=max_files_per_trigger)
    return (
        minute_cents_partials(ev)
        .writeStream.format("parquet")
        .option("path", stage_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("cusum_minute_partials")
        .trigger(availableNow=True)
        .start()
    )


def run_cusum_minute_stage2(
    spark: SparkSession,
    stage_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ref: dict[str, tuple[int, int]],
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Drain stage 2: staged minute partials -> per-event_type stateful
    Page's-test fold -> parquet alarm sink.  Exactly-once end to end:
    stage 1's file-sink commit log is the source-of-truth the stage-2
    file source reads, and stage 2 checkpoints independently (same
    recovery story as the detail/summary dual sink)."""
    from . import stateful as st

    reader = spark.readStream.schema(MINUTE_PARTIALS_SCHEMA).option(
        "pathGlobFilter", "*.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    minutes = reader.parquet(stage_dir)
    return (
        st.cusum_minute_alarm_monitor(minutes, ref)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("cusum_minute_alarms")
        .trigger(availableNow=True)
        .start()
    )


def run_cusum_minute_pipeline(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    ref: dict[str, tuple[int, int]],
    max_files_per_trigger: int = 1,
) -> None:
    """One bounded drain of both stages in sequence (stage 1 fully drains,
    then stage 2 consumes everything it staged).  In a live deployment the
    two queries run CONCURRENTLY against the same directories -- the file
    sink/source pair decouples them; this helper is the availableNow replay
    used by tests and probes."""
    q1 = run_cusum_minute_stage1(
        spark, input_dir, f"{work_dir}/stage", f"{work_dir}/cp1",
        max_files_per_trigger=max_files_per_trigger,
    )
    q1.awaitTermination()
    q2 = run_cusum_minute_stage2(
        spark, f"{work_dir}/stage", f"{work_dir}/out", f"{work_dir}/cp2", ref
    )
    q2.awaitTermination()


def read_cusum_minute_alarms(spark: SparkSession, out_dir: str) -> DataFrame:
    """Batch read-back of the stage-2 alarm sink."""
    return spark.read.schema(
        "event_type string, minute_ts timestamp, s long"
    ).parquet(out_dir)


# --------------------------------------------------------------------------
# North-star x streaming: incremental curation funnel
# --------------------------------------------------------------------------

#: Schema of the document stream (the documents fixture shape; streaming
#: file sources require a declared schema).
DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Documents arriving as files: the streaming twin of the corpus scan."""
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    reader = reader.option("pathGlobFilter", "*.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_decode_gate_stream(
    spark: SparkSession,
    gate: Callable[[DataFrame], DataFrame],
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """Streaming twin of any batch decode gate (``gate`` is one of
    ``operators.multimodal.DECODE_GATES``' operators, e.g.
    ``jpeg_ac_stats``): documents arrive as files and flow through the
    SAME Arrow-batched ``mapInPandas`` decode stage the batch operator
    uses -- the gate is called on the streaming DataFrame unchanged,
    which is the point: a narrow stateless decode stage needs no
    foreachBatch shim, no state store, and no watermark, so the
    checkpointed parquet sink alone gives exactly-once, for every gate
    alike.

    Scale posture identical to the batch gate: per-document work, O(1)-width
    stats cross to the JVM (never pixels), and the stage parallelizes by
    input file/partition -- on a real cluster the decode runs wherever the
    micro-batch's input splits land, with no shuffle at all.
    """
    docs = stream_documents(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )
    return (
        gate(docs).writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName(f"{gate.__name__}_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_decode_gate_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Batch read-back of a streaming decode-gate sink, schema-pinned."""
    from ..operators.multimodal import PIXEL_STATS_SCHEMA

    return spark.read.schema(PIXEL_STATS_SCHEMA).parquet(out_dir)


#: doc_dsir_importance's output schema, pinned for the streaming sink
#: read-back (matches the batch builder column-for-column).
DSIR_SCORE_SCHEMA = (
    "doc_id long, n_features long, log_weight double, selected boolean"
)


def run_dsir_score_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    coefficients: list[float],
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """Streaming twin of the batch ``doc_dsir_importance`` scorer
    (VERDICT r16 task 5): documents arrive as files and are scored
    against FROZEN 32-bucket model coefficients -- train once with
    ``plans.curation_queries.dsir_coefficients`` (or load coefficients
    persisted by an earlier batch run), then deploy the fixed chain.

    This split is exactly how DSIR deploys at scale: the importance
    model is O(32) state estimated from a (possibly historical) corpus
    snapshot; scoring new documents against it is embarrassingly
    parallel.  The row-wise scorer
    (``curation_queries.dsir_score_rowwise``) computes each document's
    bucket histogram with array expressions instead of the batch route's
    explode + groupBy, so the streaming stage is a pure narrow map --
    no state store, no watermark, no foreachBatch shim; the checkpointed
    parquet sink alone gives exactly-once, the same posture as the
    decode-gate twins.  Bit-equality with the batch operator (exact
    integer histograms + the identical fixed-order binary64 chain) is
    pinned row-for-row in tests/test_streaming.py.
    """
    from ..plans.curation_queries import dsir_score_rowwise

    docs = stream_documents(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )
    scored = dsir_score_rowwise(docs, coefficients)
    return (
        scored.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("dsir_score_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_dsir_scores(spark: SparkSession, out_dir: str) -> DataFrame:
    """Batch read-back of the streaming DSIR score sink, schema-pinned."""
    return spark.read.schema(DSIR_SCORE_SCHEMA).parquet(out_dir)


def run_curation_funnel_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
    bands_dir: str | None = None,
) -> StreamingQuery:
    """Incremental streaming run of the batch ``doc_curation_funnel``:
    quality filter -> cross-batch exact dedup -> cross-batch LSH near-dedup,
    with per-micro-batch stage counters.

    Convergence contract (tested): when documents arrive in ``doc_id``
    order, the accumulated state after the stream drains is EXACTLY the
    batch funnel's verdict on the full corpus --

    - exact dedup keeps the first-arriving fingerprint, which is the
      batch rule's ``min(doc_id)`` holder;
    - near-dedup candidates are generated per batch between the new
      exact-kept docs and ALL previously kept exact-survivors (including
      near-dropped ones: the batch rule drops the higher id of a pair
      regardless of whether the lower id itself was dropped), plus
      within-batch pairs.  Every unordered pair (a < b) is examined in
      exactly the batch where ``b`` arrives, so the union over batches is
      the batch candidate set and the dropped sets coincide.

    State model: ``state_dir`` is the exact-survivor table (doc_id, fp,
    sh, dropped) and ``bands_dir`` (default: ``state_dir + "_bands"``) is
    the MATERIALIZED LSH index -- each doc's (band_id, band_val) rows,
    written once on arrival, so a batch joins its new docs' bands against
    the stored index instead of re-deriving signatures for the whole
    accumulated corpus: per-batch cost stays |new| x bucket width, never
    corpus x corpus.  ``state_dir + "_pairs"`` records every VERIFIED
    near-dup pair (id_a < id_b, exact Jaccard >= threshold) in the batch
    where the higher id arrived; since each unordered pair is examined in
    exactly that batch, the union over batches is the batch pipeline's
    pair set (asserted pair-for-pair in tests/test_streaming.py).
    ``counts_dir`` records (batch_id, stage0_raw, stage1_quality).
    Stage-2/3 counts are reads over the state table.

    All three tables land under a ``_batch_id`` partition with dynamic
    overwrite, and every state/index READ filters ``_batch_id <
    batch_id``: a replayed batch therefore sees exactly the pre-batch
    state (not its own half-committed output -- without the filter a
    replay would anti-join its docs against themselves and overwrite its
    partition with an EMPTY one) and replaces its partitions
    deterministically.
    """
    from pyspark.errors import AnalysisException

    from ..functions import text as TX
    from ..operators import similarity as SIM

    docs = stream_documents(spark, input_dir)
    bands_path = bands_dir if bands_dir is not None else state_dir + "_bands"

    #: Explicit state-table schemas: reads never infer, so a LEGITIMATELY
    #: empty state dir (a zero-row first batch -- every doc quality-failed
    #: -- writes only _SUCCESS) reads as zero rows instead of dying with
    #: UNABLE_TO_INFER_SCHEMA on every subsequent batch and restart.
    state_schema = "doc_id long, fp string, sh array<string>, dropped boolean, _batch_id int"
    bands_schema = "doc_id long, band_id int, band_val string, _batch_id int"

    def curate_batch(batch_df: DataFrame, batch_id: int) -> None:
        def read_committed(path: str, schema: str, cols: list[str]) -> DataFrame | None:
            """Pre-batch state: earlier batches only.  Filtering out this
            batch's own _batch_id keeps a REPLAYED batch from anti-joining
            its docs against its own half-committed output (which would
            overwrite its partition with an empty one).  Only
            path-not-found initializes empty state -- a corrupt table must
            not silently restart dedup from scratch, so any other
            AnalysisException re-raises.  The explicit schema keeps
            'empty' and 'corrupt' distinguishable: an empty dir is valid
            zero-row state (no inference to fail), while unreadable files
            still fail the downstream action loudly."""
            try:
                df = spark.read.schema(schema).parquet(path)
            except AnalysisException as exc:
                cond = (
                    exc.getCondition()
                    if hasattr(exc, "getCondition")
                    else exc.getErrorClass()
                )
                if cond == "PATH_NOT_FOUND":
                    return None
                raise
            if not df.inputFiles():
                # Directory exists but holds no data files (a zero-row
                # batch leaves only _SUCCESS).  Treat as empty state AND
                # keep the scan out of the plan entirely: this batch's own
                # dynamic-overwrite write to the same path re-lists it,
                # and recomputing a plan that captured partitionSchema=[]
                # against a now-partitioned layout trips Spark's
                # partitionValues arity assertion.  Driver-side listing
                # check -- no job.
                return None
            return df.filter(F.col("_batch_id") < batch_id).select(*cols)

        batch_df = batch_df.select("doc_id", "text").persist()
        try:
            scored = batch_df.select(
                "doc_id", "text", TX.quality_score(F.col("text")).alias("quality")
            )
            q_pass = scored.filter(F.col("quality") >= 1.0)
            stage0 = batch_df.count()
            stage1 = q_pass.count()

            state = read_committed(
                state_dir, state_schema, ["doc_id", "fp", "sh", "dropped"]
            )

            batch_exact = (
                q_pass.groupBy(TX.fingerprint(F.col("text")).alias("fp"))
                .agg(F.min("doc_id").alias("doc_id"))
                .join(batch_df, "doc_id")
            )
            if state is not None:
                batch_exact = batch_exact.join(
                    state.select("fp"), "fp", "left_anti"
                )
            new = batch_exact.select(
                "doc_id",
                "fp",
                F.array_distinct(TX.word_shingles(F.col("text"), 3)).alias("sh"),
            ).persist()

            # Candidate generation against the MATERIALIZED band index:
            # only the new docs are signed/banded; stored docs contribute
            # their band rows as written on their own arrival.
            new_banded = SIM.lsh_bands(
                new.withColumn("sig", SIM.minhash_signature("sh"))
            ).persist()
            stored_bands = read_committed(
                bands_path, bands_schema, ["doc_id", "band_id", "band_val"]
            )
            all_banded = (
                new_banded
                if stored_bands is None
                else stored_bands.unionByName(new_banded)
            )
            # id_a < id_b with id-ordered arrival => the higher id of every
            # pair is a new arrival, so (all x new) covers cross-batch and
            # within-batch pairs in one join.
            cand = SIM.banded_pairs(all_banded, new_banded)

            pool = new.select("doc_id", "sh")
            if state is not None:
                pool = state.select("doc_id", "sh").unionByName(pool)
            sh_a = pool.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
            sh_b = pool.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
            verified = (
                cand.join(sh_a, "id_a")
                .join(sh_b, "id_b")
                .filter(SIM.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
                .select("id_a", "id_b")
                .persist()
            )
            dropped_new = (
                verified.select(F.col("id_b").alias("doc_id"))
                .distinct()
                .withColumn("is_dropped", F.lit(True))
            )
            out = (
                new.join(dropped_new, "doc_id", "left")
                .select(
                    "doc_id",
                    "fp",
                    "sh",
                    F.coalesce(F.col("is_dropped"), F.lit(False)).alias("dropped"),
                )
                .withColumn("_batch_id", F.lit(batch_id))
            )
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(state_dir)
            )
            (
                new_banded.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(bands_path)
            )
            (
                verified.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(state_dir + "_pairs")
            )
            verified.unpersist()
            (
                spark.range(1)
                .select(
                    F.lit(batch_id).alias("batch_id"),
                    F.lit(stage0).cast("long").alias("stage0_raw"),
                    F.lit(stage1).cast("long").alias("stage1_quality"),
                    F.lit(batch_id).alias("_batch_id"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(counts_dir)
            )
            new_banded.unpersist()
            new.unpersist()
        finally:
            batch_df.unpersist()

    return (
        docs.writeStream.foreachBatch(curate_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("curation_funnel_stream")
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# North-star x streaming: incremental count-min sketch
# --------------------------------------------------------------------------

def run_cms_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming maintenance of the count-min sketch behind the batch
    ``ev_heavy_hitters_cms`` query.

    CMS is ADDITIVE (cell-wise sum of per-batch sketches == sketch of the
    union), so the exactly-once state model needs no cross-batch read at
    all: each micro-batch writes its own D x W delta sketch into a
    ``_batch_id`` partition with dynamic overwrite (a replayed batch
    REPLACES its partition rather than double-counting), and the live
    sketch is just ``read_cms_sketch`` -- a sum over all committed
    partitions, at most D*W rows per batch.  This is the mergeable-sketch
    pattern a 100 TB deployment runs: partial sketches merge by union +
    groupBy-sum, never by replaying inputs.
    """
    from ..functions import sketch as SK

    ev = stream_events(spark, input_dir)

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = SK.cms_build(batch_df, F.col("user_id"))
        (
            delta.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(sketch_dir)
        )

    return (
        ev.writeStream.foreachBatch(sketch_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("cms_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_cms_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The live sketch: cell-wise sum of every committed batch delta."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def run_bloom_filter_stream(
    spark: SparkSession,
    input_dir: str,
    bits_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming maintenance of the Bloom decontamination filter behind
    the batch ``doc_decontamination_bloom`` query.

    A Bloom filter is ADDITIVE under union (bit-OR of per-batch filters
    == filter of the union), so it gets the same exactly-once mergeable-
    sketch treatment as ``run_cms_stream``: each micro-batch of arriving
    NEEDLE documents writes its delta bit set into a ``_batch_id``
    partition with dynamic overwrite (a replayed batch REPLACES its
    partition -- bit sets are idempotent under replay by construction,
    the overwrite just keeps the storage bounded), and the live filter is
    ``read_bloom_bits`` -- a distinct over all committed partitions,
    at most BLOOM_M rows total regardless of needle volume.  This is how
    a decontamination service absorbs new benchmark releases: append the
    new needles' bits, never rebuild the filter.
    """
    from ..functions import sketch as SK
    from ..plans.curation_queries import _shingle6_col

    docs = stream_documents(spark, input_dir)

    def bits_batch(batch_df: DataFrame, batch_id: int) -> None:
        needles = (
            batch_df.filter(F.col("text").isNotNull())
            .filter(F.col("doc_id") % 100 == 7)
            .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
            .select(F.explode(_shingle6_col()).alias("gram"))
            .distinct()
        )
        delta = needles.select(
            F.explode(
                F.array(*[SK.bloom_bit(j, F.col("gram")) for j in range(SK.BLOOM_K)])
            ).alias("bit")
        ).distinct()
        (
            delta.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(bits_dir)
        )

    return (
        docs.writeStream.foreachBatch(bits_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("bloom_filter_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_bloom_bits(spark: SparkSession, bits_dir: str) -> DataFrame:
    """The live filter: the distinct union of every committed batch's
    bit set (bounded by BLOOM_M rows)."""
    return spark.read.parquet(bits_dir).select("bit").distinct()


def run_dedup_clusters_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental streaming maintenance of the batch ``doc_dedup_clusters``
    labeling: documents arrive in doc_id order, each batch extends the
    verified near-dup pair graph with exactly the pairs whose HIGHER id
    just arrived, and cluster labels are re-converged by running min-label
    connected components over the COMPRESSED graph -- prior labels as star
    edges (v -> lbl) plus the batch's new verified edges.  Star compression
    is what keeps the per-batch CC cheap: prior components are depth-1, so
    the loop converges in ~2 rounds regardless of how history grew.

    Exactness contract (tested pair-for-pair in tests/test_streaming.py):
    min-label CC is associative under this merge -- label(v) is the
    minimum reachable vertex, star edges preserve reachability minima,
    and each unordered pair is examined in the batch where its higher id
    arrives -- so the drained stream's labels EQUAL the batch query's.

    Candidate prefixes use a FIXED md5 token order instead of the batch
    query's corpus-frequency order: the prefix filter's pigeonhole
    guarantee (any pair with Jaccard >= t shares a prefix token) holds
    for ANY fixed total order, and a data-independent order is the one an
    incremental pipeline can keep stable as the corpus grows --
    rarest-first would re-rank as frequencies drift, silently changing
    past prefixes.  Cost: somewhat wider prefixes than rarest-first; the
    verified pair set is identical (both exact-verified, 100% recall).

    State tables (all ``_batch_id``-partitioned, dynamic overwrite, reads
    filter ``_batch_id < batch_id`` -- same replay discipline as the
    curation funnel):

    - ``state_dir + "_sh"``: (doc_id, sh) shingle store, appended once
      per arriving doc;
    - ``state_dir + "_pfx"``: (doc_id, sz, s) prefix-token index,
      appended once per doc -- a batch joins only its NEW docs' prefixes
      against this, never re-deriving the corpus;
    - ``state_dir + "_labels"``: the COMPLETE (v, lbl) table per batch
      (latest committed partition = current labels).  Full rewrite per
      batch is the exactness-first model; a production deployment merges
      only changed components.
    """
    from pyspark.errors import AnalysisException

    from ..functions import text as TX
    from ..materialize import materialize
    from ..operators import similarity as SIM

    docs = stream_documents(spark, input_dir)
    sh_path = state_dir + "_sh"
    pfx_path = state_dir + "_pfx"
    labels_path = state_dir + "_labels"

    sh_schema = "doc_id long, sh array<string>, _batch_id int"
    pfx_schema = "doc_id long, sz int, s string, _batch_id int"
    labels_schema = "v long, lbl long, _batch_id int"

    def read_committed(path: str, schema: str, cols: list[str]) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def _prefixes(sh_frame: DataFrame) -> DataFrame:
        """(doc_id, sz, s): each doc's first sz - ceil(0.5*sz) + 1 shingles
        under the fixed md5 order."""
        ordered = F.transform(
            F.array_sort(
                F.transform(
                    F.col("sh"), lambda s: F.struct(F.md5(s).alias("h"), s.alias("s"))
                )
            ),
            lambda p: p["s"],
        )
        sz = F.size(F.col("sh"))
        keep = (sz - F.ceil(sz * F.lit(0.5)) + F.lit(1)).cast("int")
        return (
            sh_frame.select(
                "doc_id", sz.alias("sz"), F.slice(ordered, 1, keep).alias("pfx")
            )
            .select("doc_id", "sz", F.explode("pfx").alias("s"))
        )

    def cluster_batch(batch_df: DataFrame, batch_id: int) -> None:
        # null-text docs stay in the pool with EMPTY shingle sets so they
        # become singleton vertices, exactly as the batch doc_dedup_clusters
        # labels them (its vertex set is _docs with no null filter); an
        # isNotNull filter here would silently drop them from the stream's
        # labeling and break the documented stream==batch equality.
        new = materialize(
            batch_df.select(
                "doc_id",
                F.coalesce(
                    F.array_distinct(TX.word_shingles(F.col("text"), 3)),
                    F.array().cast("array<string>"),
                ).alias("sh"),
            )
        )
        new_pfx = materialize(_prefixes(new))

        stored_pfx = read_committed(pfx_path, pfx_schema, ["doc_id", "sz", "s"])
        if stored_pfx is not None:
            stored_pfx = stored_pfx.filter(F.col("_batch_id") < batch_id).select(
                "doc_id", "sz", "s"
            )
        all_pfx = (
            new_pfx if stored_pfx is None else stored_pfx.unionByName(new_pfx)
        )
        a = all_pfx.select(
            F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "s"
        )
        b = new_pfx.select(
            F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "s"
        )
        cand = (
            a.join(b, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.least("sz_a", "sz_b").cast("double")
                >= F.greatest("sz_a", "sz_b") * F.lit(0.5)
            )
            .select("id_a", "id_b")
            .distinct()
        )

        stored_sh = read_committed(sh_path, sh_schema, ["doc_id", "sh"])
        pool = (
            new.select("doc_id", "sh")
            if stored_sh is None
            else stored_sh.filter(F.col("_batch_id") < batch_id)
            .select("doc_id", "sh")
            .unionByName(new.select("doc_id", "sh"))
        )
        sh_a = pool.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        sh_b = pool.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        new_edges = (
            cand.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .filter(SIM.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
            .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        )

        prior = read_committed(labels_path, labels_schema, ["v", "lbl"])
        if prior is not None:
            committed = prior.filter(F.col("_batch_id") < batch_id)
            mx = committed.agg(F.max("_batch_id")).first()[0]
            prior_labels = (
                None
                if mx is None
                else committed.filter(F.col("_batch_id") == mx).select("v", "lbl")
            )
        else:
            prior_labels = None

        nodes = new.select(F.col("doc_id").alias("v"))
        edges = new_edges
        if prior_labels is not None:
            nodes = prior_labels.select("v").unionByName(nodes)
            star = prior_labels.filter(F.col("v") != F.col("lbl")).select(
                F.col("v").alias("a"), F.col("lbl").alias("b")
            )
            edges = star.unionByName(edges)
        labels = SIM.connected_components(nodes.distinct(), edges)

        (
            labels.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(labels_path)
        )
        (
            new.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(sh_path)
        )
        (
            new_pfx.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(pfx_path)
        )

    return (
        docs.writeStream.foreachBatch(cluster_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("dedup_clusters_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_cluster_labels(spark: SparkSession, labels_path: str) -> DataFrame:
    """The current labeling: the latest committed batch's complete table."""
    df = spark.read.parquet(labels_path)
    mx = df.agg(F.max("_batch_id")).first()[0]
    return df.filter(F.col("_batch_id") == mx).select("v", "lbl")


# --------------------------------------------------------------------------
# Reference x compliance: streaming user-erasure cascade
# --------------------------------------------------------------------------

def run_user_erasure_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of the batch ``msg_user_erasure`` compliance report:
    as message batches arrive, the erasure set (usernames selected by the
    same md5 rule) and the detail/summary state grow, the post-erasure
    snapshot is re-derived, AUDITED, and the per-table report re-issued.

    Retroactivity is the point: a user can become erased by a message in a
    LATER batch, which must remove their EARLIER rows from the post-
    erasure snapshot -- so the report genuinely changes shape across
    batches and an idempotent re-run on a grown corpus (restart + more
    chunks) must converge to exactly the batch query's report.

    State model (the ``_batch_id`` dynamic-overwrite pattern shared with
    the funnel/dedup streams; replayed batches replace their partitions):

    - ``state_dir``           : raw detail rows, one partition per batch;
    - ``state_dir + "_erase"``: per-batch erased-username deltas;
    - ``state_dir + "_clean"``: the post-erasure detail SNAPSHOT as of
      each batch (the materialized cascade output the audit re-scans);
    - ``state_dir + "_report"``: the 2-row compliance report per batch
      (``read_erasure_report`` returns the latest).

    Scale posture, stated honestly: the cascade + audit is a full pass
    over accumulated state per batch -- that is inherent to retroactive
    erasure (the report's rows_after over OLD rows changes when a user is
    erased later), and a 100 TB deployment runs this as its periodic
    compliance job (daily window) rather than per micro-batch; partition
    pruning on username-bucketed storage bounds the rewrite.  Superseded
    ``_clean``/``_report`` partitions are dead the moment the next batch
    commits and can be dropped like the CC staging rounds.
    """
    from pyspark.errors import AnalysisException

    detail_path = state_dir
    erase_path = state_dir + "_erase"
    clean_path = state_dir + "_clean"
    report_path = state_dir + "_report"

    detail_schema = (
        "message_id string, username string, jid string, "
        "date_partition string, sent_time timestamp, _batch_id int"
    )
    erase_schema = "username string, _batch_id int"

    def read_committed(path: str, schema: str) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def erasure_batch(batch_df: DataFrame, batch_id: int) -> None:
        new_detail = (
            mp.detail_table(mp.messages_from_events_df(batch_df), encrypt=False)
            .drop("stanza")
            .persist()
        )
        try:
            (
                new_detail.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(detail_path)
            )
            new_erase = (
                new_detail.filter(
                    F.conv(
                        F.substring(F.md5(F.col("message_id")), 1, 8), 16, 10
                    ).cast("long")
                    % 101
                    == 9
                )
                .select("username")
                .distinct()
            )
            (
                new_erase.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(erase_path)
            )

            stored_detail = read_committed(detail_path, detail_schema)
            full_detail = stored_detail.filter(
                F.col("_batch_id") <= batch_id
            ).drop("_batch_id")
            stored_erase = read_committed(erase_path, erase_schema)
            erase_names = (
                stored_erase.filter(F.col("_batch_id") <= batch_id)
                .select("username")
                .distinct()
            )

            # the cascade: materialize the post-erasure snapshot
            clean = full_detail.join(
                F.broadcast(erase_names), "username", "left_anti"
            )
            (
                clean.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(clean_path)
            )
            clean_stored = spark.read.parquet(clean_path).filter(
                F.col("_batch_id") == batch_id
            )

            summary = full_detail.select(
                "username", "jid", "date_partition"
            ).distinct()
            s_clean = clean_stored.select(
                "username", "jid", "date_partition"
            ).distinct()

            def row(df: DataFrame, after: DataFrame, name: str) -> DataFrame:
                before_cnt = df.agg(F.count(F.lit(1)).alias("rows_before"))
                after_cnt = after.agg(F.count(F.lit(1)).alias("rows_after"))
                # the audit re-scans the MATERIALIZED snapshot
                remaining = after.join(
                    F.broadcast(erase_names), "username", "left_semi"
                ).agg(F.count(F.lit(1)).alias("remaining_for_erased"))
                return (
                    before_cnt.crossJoin(F.broadcast(after_cnt))
                    .crossJoin(F.broadcast(remaining))
                    .select(
                        F.lit(name).alias("table_name"),
                        "rows_before",
                        "rows_after",
                        (F.col("rows_before") - F.col("rows_after")).alias(
                            "rows_removed"
                        ),
                        "remaining_for_erased",
                    )
                )

            report = row(full_detail, clean_stored.drop("_batch_id"), "detail").unionAll(
                row(summary, s_clean, "summary")
            )
            (
                report.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(report_path)
            )
        finally:
            new_detail.unpersist()

    ev = stream_events(spark, input_dir)
    return (
        ev.writeStream.foreachBatch(erasure_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("user_erasure_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_erasure_report(spark: SparkSession, report_path: str) -> DataFrame:
    """The current compliance report: the latest committed batch's rows."""
    df = spark.read.parquet(report_path)
    mx = df.agg(F.max("_batch_id")).first()[0]
    return df.filter(F.col("_batch_id") == mx).drop("_batch_id")


# --------------------------------------------------------------------------
# Streaming SCD2 maintenance (the history-preserving upsert)
# --------------------------------------------------------------------------

def run_scd2_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental streaming maintenance of the batch ``ev_scd2_user_state``
    temporal dimension: the history-preserving variant of the reference's
    latest-row-wins Cassandra upsert (CassandraOutputFormat.java:66-97
    overwrites one row per key; SCD2 keeps every superseded version with
    validity intervals).

    Exactness contract (tested row-for-row in tests/test_streaming.py):
    under ts-ordered arrival -- the same id-ordered-arrival precondition
    the dedup/funnel streams document -- CLOSED validity intervals are
    immutable: only a user's OPEN (is_current) row can change when new
    events arrive.  So each batch re-runs gaps-and-islands over a mini
    changelog per affected user: the open row collapsed to one synthetic
    entry at its valid_from (eid -1 so it sorts before any real event,
    carrying its accumulated n_events), plus the batch's new events.  The
    first mini island inherits the open row's version and valid_from; a
    same-state first event EXTENDS the open interval, a changed state
    CLOSES it at the new event's ts.  Version numbering continues from
    the open row's version, so the drained stream's table EQUALS the
    batch query's.

    State table ``state_dir + "_scd2"`` (``_batch_id``-partitioned,
    dynamic overwrite, reads filter ``_batch_id < batch_id`` -- the
    replay discipline shared with the other incremental streams): each
    batch writes the COMPLETE row set of the users it touched; the
    current table is, per user, the rows of that user's latest committed
    partition (``read_scd2_state``).  Untouched users are never
    rewritten -- per-batch write volume is O(affected users' history),
    not O(corpus), which is what makes this the 100 TB shape: a
    dimension table of a billion users absorbs a micro-batch touching
    ten thousand of them by rewriting exactly those ten thousand
    histories.
    """
    from pyspark.errors import AnalysisException

    scd2_path = state_dir + "_scd2"
    scd2_schema = (
        "user_id long, version long, state string, valid_from timestamp, "
        "valid_to timestamp, n_events long, is_current boolean, _batch_id int"
    )

    def read_committed(path: str, schema: str) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def scd2_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..materialize import materialize

        new_events = materialize(
            batch_df.select("user_id", "ts", "event_id", "event_type")
        )
        affected = new_events.select("user_id").distinct()

        prior = read_committed(scd2_path, scd2_schema)
        if prior is not None:
            prior = prior.filter(F.col("_batch_id") < F.lit(batch_id))
        if prior is not None:
            latest = Window.partitionBy("user_id")
            cur = (
                prior.withColumn("_mx", F.max("_batch_id").over(latest))
                .filter(F.col("_batch_id") == F.col("_mx"))
                .drop("_mx", "_batch_id")
                .join(affected, "user_id", "left_semi")
            )
            closed = cur.filter(~F.col("is_current"))
            open_rows = cur.filter(F.col("is_current"))
        else:
            empty = spark.createDataFrame(
                [], scd2_schema.replace(", _batch_id int", "")
            )
            closed, open_rows = empty, empty

        synthetic = open_rows.select(
            "user_id",
            F.col("valid_from").alias("ts"),
            F.lit(-1).cast("long").alias("eid"),
            F.col("state"),
            F.col("n_events").alias("cnt"),
        )
        fresh = new_events.select(
            "user_id",
            "ts",
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("state"),
            F.lit(1).cast("long").alias("cnt"),
        )
        mini = synthetic.unionByName(fresh)

        w = Window.partitionBy("user_id").orderBy("ts", "eid")
        prev = F.lag("state").over(w)
        chg = F.when(prev.eqNullSafe(F.col("state")), 0).otherwise(1)
        versioned = mini.withColumn("chg", chg).withColumn(
            "mini_version",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        islands = versioned.groupBy("user_id", "mini_version", "state").agg(
            F.min("ts").alias("valid_from"),
            F.sum("cnt").alias("n_events"),
        )
        offsets = open_rows.select(
            "user_id", (F.col("version") - 1).alias("offset")
        )
        numbered = (
            islands.join(F.broadcast(offsets), "user_id", "left")
            .withColumn(
                "version",
                (F.col("mini_version") + F.coalesce(F.col("offset"), F.lit(0)))
                .cast("long"),
            )
        )
        wv = Window.partitionBy("user_id").orderBy("version")
        valid_to = F.lead("valid_from").over(wv)
        new_rows = numbered.select(
            "user_id", "version", "state", "valid_from",
            valid_to.alias("valid_to"), "n_events",
            valid_to.isNull().alias("is_current"),
        )

        (
            closed.unionByName(new_rows)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(scd2_path)
        )

    return (
        stream_events(spark, input_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(scd2_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("scd2_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_scd2_state(spark: SparkSession, scd2_path: str) -> DataFrame:
    """The current SCD2 table: per user, the rows of that user's latest
    committed batch partition."""
    df = spark.read.parquet(scd2_path)
    w = Window.partitionBy("user_id")
    return (
        df.withColumn("_mx", F.max("_batch_id").over(w))
        .filter(F.col("_batch_id") == F.col("_mx"))
        .drop("_mx", "_batch_id")
    )


# --------------------------------------------------------------------------
# Streaming HyperLogLog maintenance
# --------------------------------------------------------------------------

def run_hll_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of ``ev_hll_distinct_users``'s register build: HLL
    registers merge by cell-wise MAX -- commutative and idempotent -- so
    per-batch maintenance is exact under ANY arrival order and replays
    are harmless by construction (re-merging a batch changes nothing).
    The drained stream's register table is bit-identical to the batch
    query's (integer equality, no float tolerance anywhere), and every
    estimate derived from the registers is therefore bit-identical too.

    State table ``state_dir + "_hll"``: the full merged (event_type, reg,
    m) register table per batch -- |types| x 64 integers, so the "full
    rewrite" per batch is a few KB regardless of corpus size; reads
    filter ``_batch_id < batch_id`` and take the latest committed
    partition, the replay discipline shared with the other incremental
    streams.  This is the sketch whose streaming story is strongest at
    100 TB: the distinct-user count of an unbounded stream lives in 64
    integers per group, never a shuffle of user ids.
    """
    from pyspark.errors import AnalysisException

    from ..functions import sketch as SK

    hll_path = state_dir + "_hll"
    hll_schema = "event_type string, reg int, m int, _batch_id int"

    def read_committed(path: str, schema: str) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def hll_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.select(
                "event_type",
                SK.hll_reg(F.col("user_id")).cast("int").alias("reg"),
                SK.hll_rho(F.col("user_id")).cast("int").alias("rho"),
            )
            .groupBy("event_type", "reg")
            .agg(F.max("rho").alias("m"))
        )
        prior = read_committed(hll_path, hll_schema)
        if prior is not None:
            latest = (
                prior.filter(F.col("_batch_id") < F.lit(batch_id))
                .withColumn("_mx", F.max("_batch_id").over(Window.partitionBy("event_type")))
                .filter(F.col("_batch_id") == F.col("_mx"))
                .select("event_type", "reg", "m")
            )
            delta = (
                delta.unionByName(latest)
                .groupBy("event_type", "reg")
                .agg(F.max("m").alias("m"))
            )
        (
            delta.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(hll_path)
        )

    return (
        stream_events(spark, input_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(hll_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("hll_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_hll_registers(spark: SparkSession, hll_path: str) -> DataFrame:
    """The current merged register table: per event_type, the rows of the
    latest committed batch partition (hit registers only; absent rows
    are zero registers, exactly as the batch query fills them)."""
    df = spark.read.parquet(hll_path)
    w = Window.partitionBy("event_type")
    return (
        df.withColumn("_mx", F.max("_batch_id").over(w))
        .filter(F.col("_batch_id") == F.col("_mx"))
        .select("event_type", "reg", "m")
    )


# --------------------------------------------------------------------------
# Streaming histogram maintenance (additive buckets + max-merged extremes)
# --------------------------------------------------------------------------

#: Declared domain for the streaming price histogram (the production
#: pattern: a streaming histogram DECLARES its edges up front -- the batch
#: agg_histogram_quantile_sketch can derive edges from corpus min/max
#: because it sees the whole corpus; a stream cannot, so it bins against a
#: declared domain and carries running min/max so a reader may re-derive
#: tighter edges by re-binning, the rescale story).
HIST_STREAM_B = 64


def hist_stream_bucket(x, lo: float, hi: float):
    """Fixed-edge bucket id; same arithmetic family as the batch sketch
    (GREATEST-guarded range, floor, clamp)."""
    rng = F.greatest(F.lit(hi) - F.lit(lo), F.lit(1e-300))
    return F.least(
        F.lit(HIST_STREAM_B - 1),
        F.floor(((x - F.lit(lo)) * F.lit(float(HIST_STREAM_B))) / rng).cast(
            "long"
        ),
    )


def run_histogram_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
) -> StreamingQuery:
    """Streaming maintenance of a fixed-edge value histogram over
    ``events.value`` plus running min/max: bucket counts are ADDITIVE
    (per-batch delta partitions, summed at read -- the CMS pattern
    verbatim) and the extremes MAX/MIN-merge (the HLL pattern), so the
    whole summary is mergeable and replay-safe with no cross-batch read.
    The drained stream's histogram is integer-identical to a batch build
    with the same declared edges (tests/test_streaming.py)."""

    ev = stream_events(spark, input_dir)

    def hist_batch(batch_df: DataFrame, batch_id: int) -> None:
        vals = batch_df.filter(F.col("value").isNotNull())
        delta = (
            vals.select(
                hist_stream_bucket(F.col("value"), lo, hi).alias("b")
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        ext = vals.agg(
            F.min("value").alias("vmin"), F.max("value").alias("vmax")
        )
        (
            delta.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(state_dir + "_hist")
        )
        (
            ext.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(state_dir + "_ext")
        )

    return (
        ev.writeStream.foreachBatch(hist_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("histogram_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_histogram(spark: SparkSession, state_dir: str) -> DataFrame:
    """(b, cnt): cell-wise sum of every committed delta partition."""
    return (
        spark.read.parquet(state_dir + "_hist")
        .groupBy("b")
        .agg(F.sum("cnt").alias("cnt"))
    )


def read_histogram_extremes(spark: SparkSession, state_dir: str):
    """(vmin, vmax) min/max-merged across batches."""
    r = (
        spark.read.parquet(state_dir + "_ext")
        .agg(F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax"))
        .first()
    )
    return r["vmin"], r["vmax"]


# --------------------------------------------------------------------------
# Streaming PQ code-table maintenance (incremental ANN ingest)
# --------------------------------------------------------------------------

def pq_encode(df: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode (vec_id, embedding) rows against a PQ codebook frame
    (m, cent_id, cent_sv): per (vector, subspace) argmin-L2 code, ties ->
    smallest cent_id -- the identical arithmetic as the batch emb_pq_adc
    (plans/northstar_queries.py), shared here so the stream and any batch
    re-encode CANNOT drift."""
    from ..plans.northstar_queries import PQ_M, PQ_SUBDIM

    e = df.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("emb"),
    )
    slices = F.array(
        *[F.slice(F.col("emb"), m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)]
    )
    sub = e.select("vec_id", F.posexplode(slices).alias("m", "sv"))
    diff = F.zip_with(
        F.col("sv"), F.col("cent_sv"),
        lambda x, y: (x - y) * (x - y),
    )
    d2 = F.aggregate(diff, F.lit(0.0), lambda x, y: x + y)
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d2"), F.asc("cent_id"))
    return (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cent_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("cent_id").alias("code"))
    )


def run_pq_encode_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental maintenance of the PQ code table (the ANN ingest path):
    vectors arriving as files are encoded against a PINNED codebook and
    their codes appended -- a vector's codes never change once written,
    so the state model is append-only per-batch partitions (replay
    replaces a partition, the usual dynamic-overwrite discipline) and the
    drained stream's code table is row-identical to a batch encode of the
    same corpus.

    The codebook is extracted ONCE from the seed vectors (vec_id < PQ_K,
    the emb_pq_adc convention) and persisted to ``state_dir + "_cb"``;
    the id-ordered-arrival precondition the other incremental streams
    document guarantees the seeds land in the first batch, and a batch
    that arrives before any codebook exists fails LOUDLY rather than
    encoding against nothing.  At 100 TB this is how a PQ index absorbs
    ingest: the codebook is fixed (retraining is an offline rebuild, as
    in any IVF-PQ deployment), encode is embarrassingly parallel, and
    each micro-batch ships M small integers per vector."""
    from pyspark.errors import AnalysisException

    from ..plans.northstar_queries import PQ_K, PQ_SUBDIM, PQ_M

    cb_path = state_dir + "_cb"
    codes_path = state_dir + "_codes"

    emb_schema = "vec_id long, embedding array<float>, label int"

    def read_cb() -> DataFrame | None:
        try:
            df = spark.read.parquet(cb_path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        cb = read_cb()
        if cb is None:
            seeds = batch_df.filter(F.col("vec_id") < PQ_K)
            n_seeds = seeds.select("vec_id").distinct().count()
            if n_seeds != PQ_K:
                raise RuntimeError(
                    "pq_encode_stream: no codebook yet and the batch "
                    f"carries only {n_seeds}/{PQ_K} distinct seed "
                    "vectors (vec_id < PQ_K); persisting a partial "
                    "codebook would silently diverge every later code "
                    "from the batch encode -- the id-ordered-arrival "
                    "precondition (all seeds in the first file) is "
                    "violated"
                )
            e = seeds.select(
                "vec_id",
                F.transform(
                    F.col("embedding"), lambda v: v.cast("double")
                ).alias("emb"),
            )
            slices = F.array(
                *[
                    F.slice(F.col("emb"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
            cb = e.select(
                F.col("vec_id").alias("cent_id"),
                F.posexplode(slices).alias("m", "cent_sv"),
            ).select("m", "cent_id", "cent_sv")
            cb.write.mode("overwrite").parquet(cb_path)
            cb = spark.read.parquet(cb_path)
        (
            pq_encode(batch_df, cb)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(codes_path)
        )

    reader = (
        spark.readStream.schema(emb_schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        reader.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("pq_encode_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_pq_codes(spark: SparkSession, state_dir: str) -> DataFrame:
    """(vec_id, m, code): union of all committed batch partitions."""
    return spark.read.parquet(state_dir + "_codes").select(
        "vec_id", "m", "code"
    )


# --------------------------------------------------------------------------
# Streaming twin: incremental entity resolution (round 9)
# --------------------------------------------------------------------------

def run_entity_resolution_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental streaming maintenance of the batch
    ``cust_entity_resolution`` clustering (VERDICT r8 item 8): customer
    records arrive in chunks, each batch derives its records (originals +
    the known-truth mangled probes), extends the match graph with exactly
    the pairs whose LATER-ARRIVING record is in this batch, and
    re-converges cluster labels by min-label connected components over the
    star-compressed prior labeling plus the new verified edges -- the SAME
    incremental-CC discipline ``run_dedup_clusters_stream`` pins, reused
    on a second graph family (the operator is graph-generic).

    Blocking-key index: the stored ``_recs`` table carries each record's
    composite block key (15-char name prefix, nationkey, mktsegment,
    acctbal); a batch equi-joins only its NEW records against the
    accumulated index -- never all-pairs, never re-deriving history.
    Unlike the dedup stream, arrival order is NOT id order (a probe's id
    is custkey + ER_ID_OFFSET), so pair canonicalization is least/greatest
    + distinct on the SYMMETRIC new-vs-all join instead of relying on
    id-ordered arrival: a pair is examined exactly in the batch where its
    later record arrives, old-old pairs were examined before, and
    min-label CC is associative under the star merge, so the drained
    labels EQUAL the batch query's (tested across restart).

    State tables (``_batch_id``-partitioned, dynamic overwrite, reads
    filter ``_batch_id < batch_id`` -- the replay discipline every stream
    here follows):

    - ``state_dir + "_recs"``: (record_id, name, block key) index;
    - ``state_dir + "_labels"``: the COMPLETE (v, lbl) table per batch.
    """
    from pyspark.errors import AnalysisException

    from ..materialize import materialize
    from ..operators import similarity as SIM
    from ..plans.tpch_adapted_queries import ER_ID_OFFSET, ER_MOD

    recs_path = state_dir + "_recs"
    labels_path = state_dir + "_labels"
    recs_schema = (
        "record_id long, name string, nk int, seg string, bal double, "
        "_batch_id int"
    )
    labels_schema = "v long, lbl long, _batch_id int"
    cust_schema = (
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )

    def read_committed(path: str, schema: str) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def resolve_batch(batch_df: DataFrame, batch_id: int) -> None:
        ln = F.length("c_name")
        originals = batch_df.select(
            F.col("c_custkey").alias("record_id"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").alias("bal"),
        )
        probes = batch_df.filter(F.col("c_custkey") % ER_MOD == 0).select(
            (F.col("c_custkey") + F.lit(ER_ID_OFFSET)).alias("record_id"),
            F.concat(
                F.col("c_name").substr(F.lit(1), ln - 2),
                F.reverse(F.col("c_name").substr(ln - 1, F.lit(2))),
            ).alias("name"),
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").alias("bal"),
        )
        new = materialize(originals.unionByName(probes))

        stored = read_committed(recs_path, recs_schema)
        all_recs = (
            new
            if stored is None
            else stored.filter(F.col("_batch_id") < batch_id)
            .drop("_batch_id")
            .unionByName(new)
        )
        x = all_recs.select(
            F.col("record_id").alias("a"), F.col("name").alias("name_a"),
            "nk", "seg", "bal", F.substring("name", 1, 15).alias("blk"),
        )
        y = new.select(
            F.col("record_id").alias("b"), F.col("name").alias("name_b"),
            F.col("nk").alias("nk_b"), F.col("seg").alias("seg_b"),
            F.col("bal").alias("bal_b"),
            F.substring("name", 1, 15).alias("blk"),
        )
        pairs = (
            x.join(
                y,
                (x["blk"] == y["blk"]) & (x["nk"] == y["nk_b"])
                & (x["seg"] == y["seg_b"]) & (x["bal"] == y["bal_b"])
                & (x["a"] != y["b"]),
            )
            .filter(F.levenshtein("name_a", "name_b") <= 2)
            .select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .distinct()
        )

        prior = read_committed(labels_path, labels_schema)
        if prior is not None:
            committed = prior.filter(F.col("_batch_id") < batch_id)
            mx = committed.agg(F.max("_batch_id")).first()[0]
            prior_labels = (
                None
                if mx is None
                else committed.filter(F.col("_batch_id") == mx).select("v", "lbl")
            )
        else:
            prior_labels = None

        nodes = new.select(F.col("record_id").alias("v"))
        edges = pairs
        if prior_labels is not None:
            nodes = prior_labels.select("v").unionByName(nodes)
            star = prior_labels.filter(F.col("v") != F.col("lbl")).select(
                F.col("v").alias("a"), F.col("lbl").alias("b")
            )
            edges = star.unionByName(edges)
        labels = SIM.connected_components(nodes.distinct(), edges)

        # Commit order matters: _recs FIRST, _labels LAST.  The report
        # reader keys on the latest committed labels batch, so the labels
        # table must never be ahead of the records backing it -- a crash
        # between the two writes then leaves only a stale-but-consistent
        # labels batch (the half-written recs batch is replayed and
        # dynamically overwritten on restart), never a labels batch whose
        # canonical records are missing from _recs.
        (
            new.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(recs_path)
        )
        (
            labels.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(labels_path)
        )

    reader = (
        spark.readStream.schema(cust_schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        reader.writeStream.foreachBatch(resolve_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("entity_resolution_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_entity_resolution_report(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Golden-record projection over the CURRENT labeling: the same
    (cluster_id, canonical_name, n_records, n_merged) shape the batch
    ``cust_entity_resolution`` returns."""
    labels = read_cluster_labels(spark, state_dir + "_labels")
    recs = spark.read.parquet(state_dir + "_recs").select("record_id", "name")
    sized = labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_records")
    )
    return sized.join(
        recs, recs["record_id"] == sized["cluster_id"]
    ).select(
        "cluster_id", F.col("name").alias("canonical_name"), "n_records",
        (F.col("n_records") - 1).alias("n_merged"),
    )


# --------------------------------------------------------------------------
# Streaming twin: CDC changelog apply (round 9)
# --------------------------------------------------------------------------

def run_cdc_apply_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental streaming maintenance of the batch
    ``ev_cdc_apply_changelog`` snapshot: the event stream applied as a
    keyed changelog -- every record upserts its user's current row,
    'error' records are tombstone DELETEs -- to a latest-wins snapshot,
    the Structured-Streaming form of a MERGE INTO target.

    ORDER-INDEPENDENT by construction, unlike the SCD2/dedup twins'
    ts-ordered-arrival precondition: the merge keeps whichever of
    (prior current, batch latest) has the larger (ts, event_id) tuple
    and SUMS change counts, both commutative across any batch split of
    the changelog -- so the drained snapshot equals the batch query's
    row-for-row under arbitrary arrival order (tested across restart).

    A key whose current winner is a tombstone stays in state as a
    ``deleted`` row (counts keep accumulating; a later upsert resurrects
    it with full history count, exactly like the batch window) and is
    filtered out by :func:`read_cdc_snapshot`.

    State table ``state_dir + "_cdc"`` (``_batch_id``-partitioned,
    dynamic overwrite, reads filter ``_batch_id < batch_id``): each
    batch writes ONLY the users it touched -- per-batch write volume is
    O(affected keys), the same property that makes the SCD2 twin the
    100 TB shape for a billion-key snapshot absorbing small batches.
    """
    from pyspark.errors import AnalysisException

    from ..materialize import materialize

    cdc_path = state_dir + "_cdc"
    cdc_schema = (
        "user_id long, cur_type string, cur_value double, "
        "updated_at timestamp, eid long, n_changes long, "
        "deleted boolean, _batch_id int"
    )

    def read_committed(path: str, schema: str) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = materialize(
            batch_df.select(
                "user_id",
                F.col("event_type").alias("b_type"),
                F.col("value").alias("b_value"),
                F.col("ts").alias("b_ts"),
                F.col("event_id").alias("b_eid"),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1))
                .over(Window.partitionBy("user_id"))
                .alias("b_cnt"),
            ).filter(F.col("rn") == 1).drop("rn")
        )

        prior = read_committed(cdc_path, cdc_schema)
        if prior is not None:
            cur = (
                prior.filter(F.col("_batch_id") < batch_id)
                .withColumn(
                    "_mx",
                    F.max("_batch_id").over(Window.partitionBy("user_id")),
                )
                .filter(F.col("_batch_id") == F.col("_mx"))
                .drop("_mx", "_batch_id")
                .join(latest.select("user_id"), "user_id", "left_semi")
            )
        else:
            cur = None

        if cur is None:
            merged = latest.select(
                "user_id",
                F.col("b_type").alias("cur_type"),
                F.col("b_value").alias("cur_value"),
                F.col("b_ts").alias("updated_at"),
                F.col("b_eid").alias("eid"),
                F.col("b_cnt").alias("n_changes"),
            )
        else:
            j = latest.join(cur, "user_id", "left")
            # commutative merge: larger (ts, event_id) tuple wins,
            # counts add -- correct under ANY batch split of the log
            batch_wins = (
                F.col("updated_at").isNull()
                | (F.col("b_ts") > F.col("updated_at"))
                | (
                    (F.col("b_ts") == F.col("updated_at"))
                    & (F.col("b_eid") > F.col("eid"))
                )
            )
            merged = j.select(
                "user_id",
                F.when(batch_wins, F.col("b_type"))
                .otherwise(F.col("cur_type"))
                .alias("cur_type"),
                F.when(batch_wins, F.col("b_value"))
                .otherwise(F.col("cur_value"))
                .alias("cur_value"),
                F.when(batch_wins, F.col("b_ts"))
                .otherwise(F.col("updated_at"))
                .alias("updated_at"),
                F.when(batch_wins, F.col("b_eid"))
                .otherwise(F.col("eid"))
                .alias("eid"),
                (
                    F.col("b_cnt") + F.coalesce(F.col("n_changes"), F.lit(0))
                ).alias("n_changes"),
            )
        (
            merged.withColumn("deleted", F.col("cur_type") == "error")
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(cdc_path)
        )

    return (
        stream_events(spark, input_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("cdc_apply_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live snapshot: per key the latest committed row, tombstones
    filtered -- the same (user_id, cur_type, cur_value, updated_at,
    n_changes) shape the batch ``ev_cdc_apply_changelog`` returns."""
    rows = spark.read.parquet(state_dir + "_cdc")
    latest = (
        rows.withColumn(
            "_mx", F.max("_batch_id").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("_batch_id") == F.col("_mx"))
    )
    return latest.filter(~F.col("deleted")).select(
        "user_id", "cur_type", "cur_value", "updated_at", "n_changes"
    )


# --------------------------------------------------------------------------
# Streaming twin: incremental Pareto skyline (round 9)
# --------------------------------------------------------------------------

def run_skyline_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental streaming maintenance of the batch
    ``orders_skyline_pareto`` frontier, exploiting the batch query's own
    decomposition: the ONLY state the skyline needs is the per-date max
    price -- a max-mergeable summary (the HLL/extremes discipline), NOT
    the frontier itself.  Each batch max-merges its per-date maxes into
    the bounded (calendar-sized) state table; :func:`read_skyline`
    recomputes the frontier from that state plus the per-date argmax
    keys, so LATE DATA retracts naturally: a higher price arriving for
    an early date silently dominates (drops) later frontier members on
    the next read -- no explicit retraction bookkeeping, because the
    frontier is a pure function of the maintained summary.

    State tables (``_batch_id``-partitioned, dynamic overwrite, reads
    filter ``_batch_id < batch_id``):

    - ``state_dir + "_bydate"``: (d, mx, keys) per date the batch
      touched, where ``keys`` is the orderkey set achieving ``mx``
      (max-merge keeps the union on ties, the argmax side on beats);
      untouched dates are never rewritten -- per-batch write volume is
      O(dates in batch), bounded by the calendar at any fact scale.
    """
    from pyspark.errors import AnalysisException

    from ..materialize import materialize

    bydate_path = state_dir + "_bydate"
    bydate_schema = (
        "d timestamp, mx double, keys array<bigint>, _batch_id int"
    )

    def read_committed(path: str, schema: str) -> DataFrame | None:
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as exc:
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        if not df.inputFiles():
            return None
        return df

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        wd = Window.partitionBy("o_orderdate")
        fresh = materialize(
            batch_df.withColumn("_dmx", F.max("o_totalprice").over(wd))
            .filter(F.col("o_totalprice") == F.col("_dmx"))
            .groupBy(F.col("o_orderdate").alias("d"))
            .agg(
                F.max("o_totalprice").alias("mx"),
                F.sort_array(F.collect_set("o_orderkey")).alias("keys"),
            )
        )

        prior = read_committed(bydate_path, bydate_schema)
        if prior is not None:
            cur = (
                prior.filter(F.col("_batch_id") < batch_id)
                .withColumn(
                    "_mx2", F.max("_batch_id").over(Window.partitionBy("d"))
                )
                .filter(F.col("_batch_id") == F.col("_mx2"))
                .select(
                    "d",
                    F.col("mx").alias("p_mx"),
                    F.col("keys").alias("p_keys"),
                )
                .join(fresh.select("d"), "d", "left_semi")
            )
            j = fresh.join(cur, "d", "left")
            merged = j.select(
                "d",
                F.greatest(F.col("mx"), F.coalesce("p_mx", F.col("mx"))).alias(
                    "m"
                ),
                F.when(
                    F.col("p_mx").isNull() | (F.col("p_mx") < F.col("mx")),
                    F.col("keys"),
                )
                .when(F.col("p_mx") > F.col("mx"), F.col("p_keys"))
                .otherwise(
                    F.sort_array(
                        F.array_distinct(
                            F.concat(F.col("keys"), F.col("p_keys"))
                        )
                    )
                )
                .alias("k"),
            ).select("d", F.col("m").alias("mx"), F.col("k").alias("keys"))
        else:
            merged = fresh
        (
            merged.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(bydate_path)
        )

    reader = (
        spark.readStream.schema(
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string"
        )
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        reader.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("skyline_stream")
        .trigger(availableNow=True)
        .start()
    )


def read_skyline(spark: SparkSession, state_dir: str) -> DataFrame:
    """The CURRENT frontier, recomputed from the bounded per-date-max
    state: same (o_orderkey, o_orderdate, o_totalprice) shape as the
    batch ``orders_skyline_pareto``."""
    rows = spark.read.parquet(state_dir + "_bydate")
    latest = (
        rows.withColumn("_m", F.max("_batch_id").over(Window.partitionBy("d")))
        .filter(F.col("_batch_id") == F.col("_m"))
        .select("d", "mx", "keys")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    sky = latest.withColumn("m_prior", F.max("mx").over(w)).filter(
        F.col("m_prior").isNull() | (F.col("mx") > F.col("m_prior"))
    )
    return sky.select(
        F.explode("keys").alias("o_orderkey"),
        F.col("d").alias("o_orderdate"),
        F.col("mx").alias("o_totalprice"),
    )
