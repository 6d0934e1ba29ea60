"""Streaming twin tests: checkpointed restart with no loss and no dupes
(SURVEY.md section 5 case 6 -- the O17 upgrade over the reference's
at-most-once delivery), and watermarked windowed aggregation.

The input stream is simulated by dropping parquet files into a watched
directory in event-time order, which is exactly how the file source models
the reference's Kafka topic (new files = new offsets)."""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_kafka_consumer_cassandra_output_spark.operators import message_pipeline as mp
from flink_kafka_consumer_cassandra_output_spark.sources import tables
from flink_kafka_consumer_cassandra_output_spark.streaming import pipeline as sp

N_CHUNKS = 4


@pytest.fixture(scope="module")
def event_chunks(sf_dir):
    """The events fixture as N_CHUNKS event-time-ordered arrow tables
    (DuckDB reads the ns parquet and exports us timestamps, matching the
    engine's own ns->us policy)."""
    con = duckdb.connect()
    try:
        tbl = con.execute(
            f"SELECT * FROM '{sf_dir}/events.parquet' ORDER BY ts, event_id"
        ).arrow()
    finally:
        con.close()
    n = tbl.num_rows
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    return [tbl.slice(i * step, step) for i in range(N_CHUNKS)]


def _drop(chunks, input_dir, lo, hi):
    """Write chunk files with STRICTLY INCREASING mtimes.  Spark's file
    source orders files by modification time and breaks ties arbitrarily;
    two chunks written in the same clock tick can therefore arrive
    REVERSED, violating the id-ordered-arrival precondition the
    incremental dedup/funnel convergence contracts document ("every
    unordered pair is examined in the batch where its higher id arrives")
    -- the root cause of the rare cross-batch-pair-loss flake these tests
    showed under a loaded host.  Spacing the mtimes one second apart makes
    arrival order total and deterministic."""
    base = time.time()
    for i in range(lo, hi):
        path = f"{input_dir}/chunk{i}.parquet"
        pq.write_table(chunks[i], path)
        os.utime(path, (base + i, base + i))


def _run(query):
    query.awaitTermination()


def _run_resilient(start_query):
    """Drain an availableNow stream, restarting ONCE from the checkpoint if
    the run aborts.  This is not flake-masking but the production recovery
    path: a streaming job that dies mid-run is restarted from its
    checkpoint, and the state machines under test are exactly the ones
    whose restart-safety (committed batches replay deterministically,
    _batch_id-partitioned state reads exclude the in-flight batch) the
    surrounding tests pin.  One observed full-suite-only abort of the
    curation funnel (MicroBatchExecution abort under a loaded host, never
    reproducible in isolation) motivated this; a SECOND failure still
    fails the test loudly."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    try:
        start_query().awaitTermination()
    except StreamingQueryException:
        start_query().awaitTermination()


def test_detail_stream_restart_no_loss_no_dupes(spark, sf_dir, event_chunks, tmp_path):
    input_dir = tmp_path / "in"
    out = tmp_path / "detail"
    cp = tmp_path / "cp_detail"
    input_dir.mkdir()
    total = sum(c.num_rows for c in event_chunks)

    # phase 1: first half of the stream
    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_detail_stream(spark, str(input_dir), str(out), str(cp)))
    got1 = spark.read.parquet(str(out))
    n1 = got1.count()
    assert n1 == sum(c.num_rows for c in event_chunks[:2])
    assert got1.select("message_id").distinct().count() == n1

    # phase 2: restart with NO new data -> nothing reprocessed
    _run(sp.run_detail_stream(spark, str(input_dir), str(out), str(cp)))
    assert spark.read.parquet(str(out)).count() == n1

    # phase 3: rest of the stream arrives; restart from checkpoint
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_detail_stream(spark, str(input_dir), str(out), str(cp)))
    got = spark.read.parquet(str(out))
    assert got.count() == total  # no loss
    assert got.select("message_id").distinct().count() == total  # no dupes

    # batch-vs-stream equivalence: same rows the batch pipeline derives
    batch = mp.detail_table(mp.messages_from_events(spark, sf_dir), encrypt=True)
    stream_ids = {r.message_id for r in got.select("message_id").collect()}
    batch_ids = {r.message_id for r in batch.select("message_id").collect()}
    assert stream_ids == batch_ids


def test_summary_stream_distinct_across_batches(spark, sf_dir, event_chunks, tmp_path):
    input_dir = tmp_path / "in"
    out = tmp_path / "summary"
    cp = tmp_path / "cp_summary"
    input_dir.mkdir()

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_summary_stream(spark, str(input_dir), str(out), str(cp)))
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_summary_stream(spark, str(input_dir), str(out), str(cp)))

    got = spark.read.parquet(str(out))
    rows = {(r.username, r.jid, r.date_partition) for r in got.collect()}
    # append-only distinct: exactly once per triple across all batches
    assert got.count() == len(rows)
    batch = mp.summary_distinct(mp.messages_from_events(spark, sf_dir))
    expect = {(r.username, r.jid, r.date_partition) for r in batch.collect()}
    assert rows == expect  # the upsert-convergence set, no loss, no dupes


def test_summary_stream_watermarked_dedup(spark, sf_dir, event_chunks, tmp_path):
    """dropDuplicatesWithinWatermark with a watermark covering the fixture's
    whole time span must equal the exact distinct set (bounded-state O11)."""
    input_dir = tmp_path / "in"
    out = tmp_path / "summary_wm"
    cp = tmp_path / "cp_wm"
    input_dir.mkdir()
    _drop(event_chunks, input_dir, 0, N_CHUNKS)
    _run(sp.run_summary_stream_watermarked(spark, str(input_dir), str(out), str(cp)))
    got = spark.read.parquet(str(out))
    rows = {(r.username, r.jid, r.date_partition) for r in got.collect()}
    assert got.count() == len(rows)
    expect = {
        (r.username, r.jid, r.date_partition)
        for r in mp.summary_distinct(mp.messages_from_events(spark, sf_dir)).collect()
    }
    assert rows == expect


def test_dual_sink_stream_one_pass_two_sinks(spark, sf_dir, event_chunks, tmp_path):
    """The reference's fan-out shape: ONE stream feeding BOTH sinks from the
    same micro-batch (foreachBatch), idempotent by batch_id partition
    overwrite.  Restart with no new data changes nothing; the summary's
    distinct read-view equals the batch truth."""
    input_dir = tmp_path / "in"
    out = tmp_path / "out"
    cp = tmp_path / "cp_dual"
    input_dir.mkdir()
    total = sum(c.num_rows for c in event_chunks)

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_dual_sink_stream(spark, str(input_dir), str(out), str(cp)))
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_dual_sink_stream(spark, str(input_dir), str(out), str(cp)))
    # restart with NO new data: no new batches, nothing rewritten
    _run(sp.run_dual_sink_stream(spark, str(input_dir), str(out), str(cp)))

    detail = spark.read.parquet(str(out / "message_history"))
    assert detail.count() == total  # no loss
    assert detail.select("message_id").distinct().count() == total  # no dupes

    summary = spark.read.parquet(str(out / "message_history_summary"))
    view = {
        (r.username, r.jid, r.date_partition)
        for r in summary.select("username", "jid", "date_partition").distinct().collect()
    }
    truth = {
        (r.username, r.jid, r.date_partition)
        for r in mp.summary_distinct(mp.messages_from_events(spark, sf_dir)).collect()
    }
    assert view == truth  # the upsert log's distinct view IS the converged set


def test_session_window_stream_with_watermark(spark, sf_dir, event_chunks, tmp_path):
    """Streaming session windows: state must MERGE across micro-batches (a
    session spanning a chunk boundary is one session, not two) and closed
    sessions must match the batch gaps-and-islands query exactly."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    out = tmp_path / "sess"
    cp = tmp_path / "cp_sess"
    input_dir.mkdir()
    _drop(event_chunks, input_dir, 0, N_CHUNKS)

    _run(sp.run_session_window_stream(spark, str(input_dir), str(out), str(cp)))
    got = spark.read.parquet(str(out)).collect()
    assert got, "watermark should have closed at least one session"
    emitted = {
        (r.user_id, r.session_start): (r.session_end, r.n_events) for r in got
    }
    # append-mode finality: each closed session emitted exactly once
    assert len(emitted) == len(got)

    batch = all_specs()["ev_session_windows"].builder(spark, sf_dir).collect()
    batch_rows = {
        (r.user_id, r.session_start): (r.session_end, r.n_events) for r in batch
    }
    # every emitted session is final: identical end AND count to the batch
    # result -- a session split across chunks that failed to merge would
    # show a shorter end or a smaller count here
    for key, val in emitted.items():
        assert batch_rows[key] == val, f"session {key}: stream {val} != batch {batch_rows[key]}"
    # with a 12h watermark over a month of data, the bulk of sessions close
    assert len(emitted) >= len(batch_rows) // 2


def test_stream_static_taxonomy_join(spark, sf_dir, event_chunks, tmp_path):
    """Stream-static broadcast join: streaming classification equals the
    batch lookup join row-for-row."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.functions import taxonomy, xml_fns

    input_dir = tmp_path / "in"
    out = tmp_path / "typed"
    cp = tmp_path / "cp_typed"
    input_dir.mkdir()
    _drop(event_chunks, input_dir, 0, N_CHUNKS)
    _run(sp.run_stream_static_taxonomy(spark, str(input_dir), str(out), str(cp)))

    rows = spark.read.parquet(str(out)).collect()
    got = {(r.msg_id, r.type_code, r.type_name) for r in rows}
    assert len(rows) == len(got)  # no duplicate emission
    batch = (
        mp.messages_from_events(spark, sf_dir)
        .select("msg_id", xml_fns.stanza_type_fast(F.col("stanza")).alias("type_code"))
        .join(taxonomy.lookup_df(spark), "type_code")
    )
    expect = {(r.msg_id, r.type_code, r.type_name) for r in batch.collect()}
    assert got == expect


def test_stream_stream_interval_join(spark, sf_dir, event_chunks, tmp_path):
    """Stream-stream interval join with watermarks on both sides: the
    emitted (purchase, click) attribution pairs equal the batch interval
    join -- including pairs whose click and purchase arrive in DIFFERENT
    micro-batches (buffered join state)."""
    from pyspark.sql import functions as F

    input_dir = tmp_path / "in"
    out = tmp_path / "conv"
    cp = tmp_path / "cp_conv"
    input_dir.mkdir()
    _drop(event_chunks, input_dir, 0, N_CHUNKS)
    _run(sp.run_stream_stream_conversion_join(spark, str(input_dir), str(out), str(cp)))

    rows = spark.read.parquet(str(out)).collect()
    got = {(r.purchase_id, r.click_id) for r in rows}
    assert len(rows) == len(got)  # each pair emitted exactly once
    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expect = {
        (r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert expect, "fixture should contain click->purchase pairs within 1h"
    assert got == expect


def test_windowed_stream_with_watermark(spark, sf_dir, event_chunks, tmp_path):
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    out = tmp_path / "win"
    cp = tmp_path / "cp_win"
    input_dir.mkdir()
    _drop(event_chunks, input_dir, 0, N_CHUNKS)

    _run(sp.run_windowed_stream(spark, str(input_dir), str(out), str(cp)))
    got = spark.read.parquet(str(out)).collect()
    assert got, "watermark should have closed at least one window"
    emitted = {(r.window_start, r.event_type): r.n_events for r in got}
    # each (window, type) emitted at most once (append mode finality)
    assert len(emitted) == len(got)

    # every emitted window matches the batch tumbling aggregate exactly
    batch = all_specs()["ev_tumbling_hourly"].builder(spark, sf_dir).collect()
    batch_counts = {(r.window_start, r.event_type): r.n_events for r in batch}
    for key, n in emitted.items():
        assert batch_counts[key] == n, f"window {key}: stream {n} != batch {batch_counts[key]}"


@pytest.fixture(scope="module")
def doc_chunks(sf_dir):
    """The documents fixture as N_CHUNKS doc_id-ordered arrow tables --
    arrival order == id order, the precondition for the incremental
    funnel's convergence contract (first-arriving fingerprint == the batch
    rule's min(doc_id) holder)."""
    con = duckdb.connect()
    try:
        tbl = con.execute(
            f"SELECT * FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).arrow()
    finally:
        con.close()
    n = tbl.num_rows
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    return [tbl.slice(i * step, step) for i in range(N_CHUNKS)]


def test_curation_funnel_stream_survives_empty_state_tables(
    spark, sf_dir, doc_chunks, tmp_path
):
    """A zero-row batch (every doc quality-failed or already deduped)
    writes state tables holding only _SUCCESS.  Later batches must read
    those as EMPTY state -- with the explicit-schema read there is no
    inference to die in -- not crash-loop on UNABLE_TO_INFER_SCHEMA
    (regression for the PATH_NOT_FOUND narrowing of read_committed)."""
    from pyspark.sql import functions as F

    input_dir, state, counts, cp = (
        tmp_path / "in",
        tmp_path / "state",
        tmp_path / "counts",
        tmp_path / "cp",
    )
    input_dir.mkdir()
    # exactly what a zero-row batch leaves behind: dirs with no part files
    spark.createDataFrame(
        [], "doc_id long, fp string, sh array<string>, dropped boolean, _batch_id int"
    ).write.partitionBy("_batch_id").parquet(str(state))
    spark.createDataFrame(
        [], "doc_id long, band_id int, band_val string, _batch_id int"
    ).write.partitionBy("_batch_id").parquet(str(state) + "_bands")

    _drop(doc_chunks, input_dir, 0, 1)
    _run(sp.run_curation_funnel_stream(spark, str(input_dir), str(state), str(counts), str(cp)))
    st = spark.read.parquet(str(state))
    assert st.count() > 0  # the real batch landed on top of the empty state
    assert st.filter(F.col("dropped")).count() >= 0  # schema intact


def test_curation_funnel_stream_converges_to_batch_truth(
    spark, sf_dir, doc_chunks, tmp_path
):
    """The streaming x north-star loop: an incremental foreachBatch run of
    the curation funnel (quality -> exact dedup -> LSH near-dedup, state
    accumulated across micro-batches AND across a restart) must converge to
    the batch doc_curation_funnel's per-stage counts exactly."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir, state, counts, cp = (
        tmp_path / "in",
        tmp_path / "state",
        tmp_path / "counts",
        tmp_path / "cp",
    )
    input_dir.mkdir()

    # phase 1: first half of the corpus, one file per micro-batch
    _drop(doc_chunks, input_dir, 0, 2)
    _run_resilient(
        lambda: sp.run_curation_funnel_stream(
            spark, str(input_dir), str(state), str(counts), str(cp)
        )
    )
    # phase 2: rest arrives after a restart from the checkpoint
    _drop(doc_chunks, input_dir, 2, N_CHUNKS)
    _run_resilient(
        lambda: sp.run_curation_funnel_stream(
            spark, str(input_dir), str(state), str(counts), str(cp)
        )
    )

    st = spark.read.parquet(str(state))
    ct = spark.read.parquet(str(counts))
    got = {
        "stage0_raw": ct.agg(F.sum("stage0_raw")).first()[0],
        "stage1_quality": ct.agg(F.sum("stage1_quality")).first()[0],
        "stage2_exact_dedup": st.count(),
        "stage3_near_dedup": st.filter(~F.col("dropped")).count(),
    }
    expect = {
        r.stage: r.n_docs
        for r in all_specs()["doc_curation_funnel"].builder(spark, sf_dir).collect()
    }
    # forensics on mismatch: name the pairs the stream missed/invented,
    # not just the count delta (one full-suite flake of this test showed
    # stage3 off by 2 with no way to see WHICH pairs went missing)
    if got != expect:
        stream_p = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(str(state) + "_pairs")
            .select("id_a", "id_b")
            .collect()
        }
        raise AssertionError(
            f"stream {got} != batch {expect}; stream pair set "
            f"({len(stream_p)} pairs): {sorted(stream_p)[:50]}"
        )
    # the per-doc verdicts, not just the counts: state ids must be unique
    assert st.select("doc_id").distinct().count() == st.count()
    # the materialized LSH index stays consistent with the survivor table:
    # every exact-kept doc contributed exactly BANDS band rows on arrival
    from flink_kafka_consumer_cassandra_output_spark.operators.similarity import BANDS

    bands = spark.read.parquet(str(state) + "_bands")
    assert bands.count() == BANDS * st.count()
    assert bands.select("doc_id").distinct().count() == st.count()

    # PAIR-level convergence: the union of per-batch verified pairs (each
    # found by joining the new arrivals' bands against the STORED band
    # index) must equal a one-shot batch LSH run over the same exact-kept
    # pool -- the end-to-end gate on the incremental index, not just
    # counts.  Each unordered pair is examined exactly in the batch where
    # its higher id arrived, so the union has no duplicates either.
    from flink_kafka_consumer_cassandra_output_spark.operators import (
        similarity as SIM,
    )

    stream_pair_rows = spark.read.parquet(str(state) + "_pairs").select(
        "id_a", "id_b"
    ).collect()
    stream_pairs = {(r.id_a, r.id_b) for r in stream_pair_rows}
    assert len(stream_pairs) == len(stream_pair_rows), "duplicate pair rows"

    sigs = st.select("doc_id", "sh").withColumn(
        "sig", SIM.minhash_signature("sh")
    )
    cand = SIM.lsh_candidate_pairs(sigs)
    xa = st.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    xb = st.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in cand.join(xa, "id_a")
        .join(xb, "id_b")
        .filter(SIM.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
        .select("id_a", "id_b")
        .collect()
    }
    assert stream_pairs == batch_pairs
    # non-vacuous: at least one pair must SPAN micro-batches (its two ids
    # arrived in different chunks), or the stored-index path went untested
    chunk_of = {}
    for ci, tbl in enumerate(doc_chunks):
        for v in tbl.column("doc_id").to_pylist():
            chunk_of[v] = ci
    assert any(chunk_of[a] != chunk_of[b] for a, b in stream_pairs), (
        "no cross-batch pair in the fixture split; the incremental band "
        "index was never exercised across batches"
    )


def test_cms_stream_matches_batch_sketch(spark, sf_dir, event_chunks, tmp_path):
    """The incremental CMS equals the batch-built sketch cell for cell,
    across a mid-stream restart (additivity + per-batch delta partitions
    with dynamic overwrite = exactly-once without cross-batch reads)."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.functions import sketch as SK
    from flink_kafka_consumer_cassandra_output_spark.sources import tables

    input_dir = tmp_path / "in"
    sk = tmp_path / "sketch"
    cp = tmp_path / "cp_cms"
    input_dir.mkdir()

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_cms_stream(spark, str(input_dir), str(sk), str(cp)))
    # restart with the rest of the stream: committed batches must not
    # double-count (their partitions are replaced, not appended)
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_cms_stream(spark, str(input_dir), str(sk), str(cp)))

    streamed = {
        (r.row_id, r.bucket): r.cnt
        for r in sp.read_cms_sketch(spark, str(sk)).collect()
    }
    ev = tables.load(spark, sf_dir, "events")
    batch = {
        (r.row_id, r.bucket): r.cnt
        for r in SK.cms_build(ev, F.col("user_id")).collect()
    }
    assert streamed == batch, (
        f"sketch mismatch: {sum(1 for k in batch if streamed.get(k) != batch[k])} "
        f"cells differ of {len(batch)}"
    )

    # estimates computed from the streamed sketch equal the batch query's
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est_stream = {
        r.user_id: r.cms_estimate
        for r in SK.cms_estimate(
            exact, F.col("user_id"), sp.read_cms_sketch(spark, str(sk))
        ).collect()
    }
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    est_batch = {
        r.user_id: r.cms_estimate
        for r in all_specs()["ev_heavy_hitters_cms"].builder(spark, sf_dir).collect()
    }
    assert est_stream == est_batch
    # CMS guarantee: never underestimates
    exact_map = {r.user_id: r.exact_cnt for r in exact.collect()}
    assert all(est_batch[u] >= exact_map[u] for u in exact_map)


def test_bloom_stream_matches_batch_filter(spark, sf_dir, doc_chunks, tmp_path):
    """The incrementally-maintained Bloom filter equals the batch-built
    one bit for bit, across a mid-stream restart (bit sets are additive
    under union; per-batch delta partitions with dynamic overwrite make
    replay idempotent) -- and therefore the streamed filter classifies
    every corpus gram exactly as the batch doc_decontamination_bloom
    query's filter does."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.functions import sketch as SK
    from flink_kafka_consumer_cassandra_output_spark.plans.curation_queries import (
        _shingle6_col,
    )
    from flink_kafka_consumer_cassandra_output_spark.sources import tables

    input_dir = tmp_path / "in"
    bits = tmp_path / "bits"
    cp = tmp_path / "cp_bloom"
    input_dir.mkdir()

    _drop(doc_chunks, input_dir, 0, 2)
    _run(sp.run_bloom_filter_stream(spark, str(input_dir), str(bits), str(cp)))
    # restart with the rest of the needle stream: committed batches must
    # not change (their partitions are replaced with identical bit sets)
    _drop(doc_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_bloom_filter_stream(spark, str(input_dir), str(bits), str(cp)))

    streamed = {r.bit for r in sp.read_bloom_bits(spark, str(bits)).collect()}

    d = tables.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    batch_bits = {
        r.bit
        for r in d.filter(F.col("doc_id") % 100 == 7)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(F.explode(_shingle6_col()).alias("gram"))
        .distinct()
        .select(
            F.explode(
                F.array(*[SK.bloom_bit(j, F.col("gram")) for j in range(SK.BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
        .collect()
    }
    assert streamed == batch_bits, (
        f"{len(streamed ^ batch_bits)} bits differ "
        f"(streamed {len(streamed)}, batch {len(batch_bits)})"
    )
    assert len(streamed) > 0
    # non-vacuous split: needles must arrive in more than one micro-batch
    needle_chunks = {
        ci
        for ci, tbl in enumerate(doc_chunks)
        if any(v % 100 == 7 for v in tbl.column("doc_id").to_pylist())
    }
    assert len(needle_chunks) >= 2, "all needles in one chunk; increment untested"


def test_dedup_clusters_stream_matches_batch(spark, sf_dir, doc_chunks, tmp_path):
    """The incrementally-maintained cluster labeling equals the batch
    doc_dedup_clusters labeling vertex-for-vertex after the stream drains,
    across a mid-stream restart.  Exactness rests on (1) min-label CC
    being associative under star-compressed merge and (2) every unordered
    pair being examined in the batch where its higher id arrives
    (id-ordered chunks).  The fixture carries no null-text doc, so one is
    INJECTED on both sides (the batch labels null-text docs as singleton
    clusters via the unfiltered _docs vertex set; the stream must label
    them identically, not silently drop them)."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "cc_state"
    cp = tmp_path / "cp_cc"
    input_dir.mkdir()

    # inject a null-text doc (fresh id) into the final chunk AND into an
    # augmented documents.parquet the batch builder reads
    schema = doc_chunks[0].schema
    max_id = max(v for t in doc_chunks for v in t.column("doc_id").to_pylist())
    null_row = pa.table(
        {
            "doc_id": [max_id + 1],
            "text": pa.array([None], type=pa.string()),
            "lang": pa.array([None], type=pa.string()),
            "source": pa.array([None], type=pa.string()),
            "n_chars": pa.array([None], type=pa.int64()),
        }
    ).cast(schema)
    chunks = list(doc_chunks)
    chunks[-1] = pa.concat_tables([chunks[-1], null_row])
    aug_sf = tmp_path / "sf_aug"
    aug_sf.mkdir()
    pq.write_table(
        pa.concat_tables(chunks), str(aug_sf / "documents.parquet")
    )

    _drop(chunks, input_dir, 0, 2)
    _run(sp.run_dedup_clusters_stream(spark, str(input_dir), str(state), str(cp)))
    # restart with the rest of the corpus: committed batches must replay
    # deterministically (state reads exclude each batch's own partition)
    _drop(chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_dedup_clusters_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        (r.v, r.lbl)
        for r in sp.read_cluster_labels(spark, str(state) + "_labels").collect()
    }
    batch = {
        (r.doc_id, r.cluster_id)
        for r in all_specs()["doc_dedup_clusters"]
        .builder(spark, str(aug_sf))
        .select("doc_id", "cluster_id")
        .collect()
    }
    assert (max_id + 1, max_id + 1) in batch, (
        "batch must label the injected null-text doc a singleton"
    )
    assert len(streamed) == len(batch), (
        f"label count: stream {len(streamed)} vs batch {len(batch)}"
    )
    assert streamed == batch, (
        f"{len(streamed ^ batch)} label rows differ"
    )
    # non-vacuous: some cluster must span micro-batches (members arrived
    # in different chunks), or the incremental merge path went untested
    chunk_of = {}
    for ci, tbl in enumerate(chunks):
        for v in tbl.column("doc_id").to_pylist():
            chunk_of[v] = ci
    clusters = {}
    for v, lbl in streamed:
        clusters.setdefault(lbl, set()).add(chunk_of[v])
    assert any(len(cs) > 1 for cs in clusters.values()), (
        "no cluster spans micro-batches in this fixture split; the "
        "cross-batch merge was never exercised"
    )


def test_user_erasure_stream_matches_batch(spark, sf_dir, event_chunks, tmp_path):
    """The streaming compliance report after the stream drains (across a
    mid-stream restart) equals the batch msg_user_erasure report on the
    full corpus row-for-row.  Retroactivity is exercised by construction:
    users whose erasure-triggering message arrives in a late chunk must
    have their EARLY rows removed from the final snapshot -- the
    idempotent re-run-on-a-grown-corpus path VERDICT r7 item 8 names."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "erasure_state"
    cp = tmp_path / "cp_erasure"
    input_dir.mkdir()

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_user_erasure_stream(spark, str(input_dir), str(state), str(cp)))
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_user_erasure_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        tuple(r)
        for r in sp.read_erasure_report(spark, str(state) + "_report").collect()
    }
    batch = {
        tuple(r)
        for r in all_specs()["msg_user_erasure"].builder(spark, sf_dir).collect()
    }
    assert streamed == batch, f"stream {sorted(streamed)} != batch {sorted(batch)}"
    # ADVICE r8 pin: the materialized post-erasure snapshot must keep the
    # FULL detail row shape -- sent_time was silently dropped by the
    # read-back schema before the r9 fix
    clean_cols = set(
        spark.read.parquet(str(state) + "_clean").columns
    )
    assert {"message_id", "username", "jid", "date_partition", "sent_time"} <= clean_cols, clean_cols
    # the audit column must be zero BECAUSE the cascade worked, and the
    # erasure must be non-vacuous (some rows actually removed)
    by_name = {r[0]: r for r in streamed}
    for name in ("detail", "summary"):
        assert by_name[name][4] == 0
        assert by_name[name][3] > 0, f"{name}: erasure removed nothing"
    # retroactivity non-vacuity: at least one erased user must have rows
    # in phase-1 chunks but acquire erasure only in a phase-2 chunk --
    # replaying the rule over per-chunk message sets
    from flink_kafka_consumer_cassandra_output_spark.operators import (
        message_pipeline as mp,
    )

    def chunk_frames(ci):
        import pyarrow.parquet as pq_  # noqa: F401
        path = str(tmp_path / f"probe_chunk{ci}.parquet")
        pq.write_table(event_chunks[ci], path)
        ev = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).parquet(path)
        d = mp.detail_table(mp.messages_from_events_df(ev), encrypt=False).drop("stanza")
        users = {r.username for r in d.select("username").distinct().collect()}
        erased = {
            r.username
            for r in d.filter(
                F.conv(F.substring(F.md5(F.col("message_id")), 1, 8), 16, 10)
                .cast("long") % 101 == 9
            ).select("username").distinct().collect()
        }
        return users, erased

    early_users, early_erased = set(), set()
    for ci in range(2):
        u, e = chunk_frames(ci)
        early_users |= u
        early_erased |= e
    late_erased = set()
    for ci in range(2, N_CHUNKS):
        _, e = chunk_frames(ci)
        late_erased |= e
    retro = (late_erased - early_erased) & early_users
    assert retro, (
        "no user acquires erasure in phase 2 while having phase-1 rows; "
        "the retroactive-removal path went unexercised by this fixture split"
    )


def test_scd2_stream_matches_batch(spark, sf_dir, event_chunks, tmp_path):
    """The incrementally-maintained SCD2 table equals the batch
    ev_scd2_user_state output row-for-row after the stream drains, across
    a mid-stream restart.  Exactness rests on ts-ordered arrival making
    closed intervals immutable: each batch re-islands only (open row as
    synthetic changelog entry + new events).  Both cross-batch paths are
    asserted non-vacuous below: an open interval EXTENDED by a same-state
    event in a later chunk, and one CLOSED by a changed state."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "scd2_state"
    cp = tmp_path / "cp_scd2"
    input_dir.mkdir()

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_scd2_stream(spark, str(input_dir), str(state), str(cp)))
    # restart with the rest of the corpus: committed batches must replay
    # deterministically (state reads exclude each batch's own partition)
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_scd2_stream(spark, str(input_dir), str(state), str(cp)))

    cols = ("user_id", "version", "state", "valid_from", "valid_to",
            "n_events", "is_current")
    streamed = {
        tuple(r[c] for c in cols)
        for r in sp.read_scd2_state(spark, str(state) + "_scd2").collect()
    }
    batch = {
        tuple(r[c] for c in cols)
        for r in all_specs()["ev_scd2_user_state"].builder(spark, sf_dir).collect()
    }
    assert len(streamed) == len(batch)
    assert streamed == batch, f"{len(streamed ^ batch)} SCD2 rows differ"

    # non-vacuity: both incremental paths must occur across chunk
    # boundaries in this fixture split, or the merge logic went untested
    chunk_of = {}
    for ci, tbl in enumerate(event_chunks):
        for eid in tbl.column("event_id").to_pylist():
            chunk_of[eid] = ci
    ordered = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["event_type"])
            for tbl in event_chunks
            for r in tbl.to_pylist()
        ),
        key=lambda t: (t[0], t[1], t[2]),
    )
    extends = closes = 0
    for a, b in zip(ordered, ordered[1:]):
        if a[0] != b[0]:
            continue
        if chunk_of[a[2]] != chunk_of[b[2]]:
            if a[3] == b[3]:
                extends += 1
            else:
                closes += 1
    assert extends > 0, "no cross-batch open-interval extension in fixture"
    assert closes > 0, "no cross-batch interval closure in fixture"


def test_hll_stream_matches_batch_registers(spark, sf_dir, event_chunks, tmp_path):
    """The streamed HLL register table is bit-identical to the batch
    build's (integer equality; MAX-merge is commutative + idempotent, so
    arrival order and replays cannot perturb it), across a mid-stream
    restart.

    A user's (reg, rho) is a pure function of user_id, and every fixture
    user appears in the early chunks -- so a register can only RISE in
    phase 2 if a NEW user arrives late.  One is INJECTED into the final
    chunk, chosen by replaying the md5 register math in Python so its
    rho provably exceeds the fixture's maximum for its register: the
    cross-batch max-merge conflict is exercised by construction, and the
    batch reference is computed over the same augmented corpus."""
    import hashlib

    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.functions import sketch as SK

    def py_reg_rho(user_id: int) -> tuple[int, int]:
        h = int(hashlib.md5(f"hll:{user_id}".encode()).hexdigest()[:15], 16)
        reg, w = h % SK.HLL_M, h >> 6
        rho = (SK.HLL_W_BITS + 1) - w.bit_length() if w else SK.HLL_W_BITS + 1
        return reg, rho

    # fixture registers for the injected event's type
    fixture_m: dict[int, int] = {}
    users = set()
    for tbl in event_chunks:
        for r in tbl.select(["user_id"]).to_pylist():
            users.add(r["user_id"])
    for u in users:
        reg, rho = py_reg_rho(u)
        fixture_m[reg] = max(fixture_m.get(reg, 0), rho)
    uid = max(users) + 1
    while True:
        reg, rho = py_reg_rho(uid)
        if rho > fixture_m.get(reg, 0):
            break
        uid += 1

    schema = event_chunks[0].schema
    last = event_chunks[-1].to_pylist()[-1]
    inject = pa.table(
        {
            "event_id": [last["event_id"] + 1_000_000],
            "ts": pa.array([last["ts"]], type=schema.field("ts").type),
            "user_id": [uid],
            "event_type": ["click"],
            "value": [0.0],
            "props": ["{}"],
        }
    ).cast(schema)
    chunks = list(event_chunks)
    chunks[-1] = pa.concat_tables([chunks[-1], inject])
    aug_sf = tmp_path / "sf_aug"
    aug_sf.mkdir()
    pq.write_table(pa.concat_tables(chunks), str(aug_sf / "events.parquet"))

    input_dir = tmp_path / "in"
    state = tmp_path / "hll_state"
    cp = tmp_path / "cp_hll"
    input_dir.mkdir()

    _drop(chunks, input_dir, 0, 2)
    _run(sp.run_hll_stream(spark, str(input_dir), str(state), str(cp)))
    phase1 = {
        (r["event_type"], r["reg"]): r["m"]
        for r in sp.read_hll_registers(spark, str(state) + "_hll").collect()
    }
    _drop(chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_hll_stream(spark, str(input_dir), str(state), str(cp)))
    streamed = {
        (r["event_type"], r["reg"]): r["m"]
        for r in sp.read_hll_registers(spark, str(state) + "_hll").collect()
    }

    ev = spark.read.parquet(str(aug_sf / "events.parquet"))
    batch = {
        (r["event_type"], r["reg"]): r["m"]
        for r in ev.select(
            "event_type",
            SK.hll_reg(F.col("user_id")).cast("int").alias("reg"),
            SK.hll_rho(F.col("user_id")).cast("int").alias("rho"),
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m"))
        .collect()
    }
    assert streamed == batch, (
        f"{len(set(streamed.items()) ^ set(batch.items()))} register cells differ"
    )
    key = ("click", py_reg_rho(uid)[0])
    assert streamed[key] == py_reg_rho(uid)[1]
    assert streamed[key] > phase1.get(key, 0), (
        "the injected late user failed to raise its register: the "
        "max-merge conflict went unexercised"
    )


def test_histogram_stream_matches_batch(spark, sf_dir, event_chunks, tmp_path):
    """The streamed fixed-edge histogram (additive bucket deltas, the CMS
    pattern) is integer-identical to a batch build with the same declared
    edges, across a mid-stream restart; the max-merged extremes equal the
    corpus min/max, proving a reader could re-derive tighter edges."""
    from pyspark.sql import functions as F

    input_dir = tmp_path / "in"
    state = tmp_path / "hist_state"
    cp = tmp_path / "cp_hist"
    input_dir.mkdir()
    LO, HI = 0.0, 1000.0

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_histogram_stream(spark, str(input_dir), str(state), str(cp), LO, HI))
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_histogram_stream(spark, str(input_dir), str(state), str(cp), LO, HI))

    streamed = {
        (r["b"], r["cnt"])
        for r in sp.read_histogram(spark, str(state)).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("value").isNotNull()
    )
    batch = {
        (r["b"], r["cnt"])
        for r in ev.select(
            sp.hist_stream_bucket(F.col("value"), LO, HI).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert streamed == batch
    vmin, vmax = sp.read_histogram_extremes(spark, str(state))
    exact = ev.agg(F.min("value"), F.max("value")).first()
    assert (vmin, vmax) == (exact[0], exact[1])


@pytest.fixture(scope="module")
def emb_chunks(sf_dir):
    """The embeddings fixture as N_CHUNKS vec_id-ordered arrow tables
    (seeds vec_id < PQ_K land in chunk 0 -- the id-ordered-arrival
    precondition the PQ encode stream documents)."""
    con = duckdb.connect()
    try:
        tbl = con.execute(
            f"SELECT * FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).arrow()
    finally:
        con.close()
    n = tbl.num_rows
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    return [tbl.slice(i * step, step) for i in range(N_CHUNKS)]


def test_pq_encode_stream_matches_batch(spark, sf_dir, emb_chunks, tmp_path):
    """The incrementally-maintained PQ code table is row-identical to a
    batch encode of the same corpus against the same pinned codebook,
    across a mid-stream restart -- codes are immutable once written, so
    append-only per-batch partitions suffice and replay is harmless."""
    from pyspark.sql import functions as F

    input_dir = tmp_path / "in"
    state = tmp_path / "pq_state"
    cp = tmp_path / "cp_pq"
    input_dir.mkdir()

    _drop(emb_chunks, input_dir, 0, 2)
    _run(sp.run_pq_encode_stream(spark, str(input_dir), str(state), str(cp)))
    _drop(emb_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_pq_encode_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        (r["vec_id"], r["m"], r["code"])
        for r in sp.read_pq_codes(spark, str(state)).collect()
    }
    cb = spark.read.parquet(str(state) + "_cb")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = {
        (r["vec_id"], r["m"], r["code"])
        for r in sp.pq_encode(emb, cb).collect()
    }
    assert len(streamed) == len(batch)
    assert streamed == batch, (
        f"{len(streamed ^ batch)} code cells differ"
    )
    # every vector encoded exactly once per subspace
    from flink_kafka_consumer_cassandra_output_spark.plans.northstar_queries import (
        PQ_M,
    )
    n_vec = emb.count()
    assert len(streamed) == n_vec * PQ_M


@pytest.fixture(scope="module")
def customer_chunks(sf_dir):
    """The customer fixture as N_CHUNKS custkey-ordered arrow tables.
    Unlike the dedup stream, the ER stream does NOT require id-ordered
    arrival (probe ids jump by ER_ID_OFFSET); custkey order here just
    makes the split deterministic."""
    con = duckdb.connect()
    try:
        tbl = con.execute(
            f"SELECT * FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
        ).arrow()
    finally:
        con.close()
    n = tbl.num_rows
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    return [tbl.slice(i * step, step) for i in range(N_CHUNKS)]


def test_entity_resolution_stream_matches_batch(
    spark, sf_dir, customer_chunks, tmp_path
):
    """VERDICT r8 item 8: the incrementally-maintained entity-resolution
    clustering equals the batch cust_entity_resolution golden-record
    table row-for-row after the stream drains, across a mid-stream
    restart.  Exactness rests on the same two pillars the dedup-cluster
    twin pins (pair examined when its later record arrives; min-label CC
    associative under star merge), exercised here WITHOUT the id-ordered
    arrival crutch -- the pair canonicalization is least/greatest over a
    symmetric new-vs-all block join."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "er_state"
    cp = tmp_path / "cp_er"
    input_dir.mkdir()

    _drop(customer_chunks, input_dir, 0, 2)
    _run(sp.run_entity_resolution_stream(spark, str(input_dir), str(state), str(cp)))
    _drop(customer_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_entity_resolution_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        tuple(r)
        for r in sp.read_entity_resolution_report(spark, str(state)).collect()
    }
    batch = {
        tuple(r)
        for r in all_specs()["cust_entity_resolution"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert len(streamed) == len(batch), (len(streamed), len(batch))
    assert streamed == batch, f"{len(streamed ^ batch)} golden rows differ"
    # non-vacuous: the probe duplicates must actually merge somewhere
    assert any(r[3] > 0 for r in streamed), "no cluster merged anything"


def test_cdc_apply_stream_matches_batch(spark, sf_dir, event_chunks, tmp_path):
    """The incrementally-maintained CDC snapshot equals the batch
    ev_cdc_apply_changelog row-for-row after the stream drains, across a
    mid-stream restart.  Unlike the SCD2 twin, the merge is commutative
    (latest-wins by (ts, event_id) tuple + additive counts), so no
    arrival-order precondition is involved."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "cdc_state"
    cp = tmp_path / "cp_cdc"
    input_dir.mkdir()

    _drop(event_chunks, input_dir, 0, 2)
    _run(sp.run_cdc_apply_stream(spark, str(input_dir), str(state), str(cp)))
    _drop(event_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_cdc_apply_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        tuple(r) for r in sp.read_cdc_snapshot(spark, str(state)).collect()
    }
    batch = {
        tuple(r)
        for r in all_specs()["ev_cdc_apply_changelog"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert len(streamed) == len(batch), (len(streamed), len(batch))
    assert streamed == batch, f"{len(streamed ^ batch)} snapshot rows differ"
    # non-vacuous tombstones: some user's last record is an 'error' DELETE,
    # so the snapshot must be strictly smaller than the live-key universe
    n_users = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id"
    ).distinct().count()
    assert len(streamed) < n_users, "no tombstone was ever applied"


@pytest.fixture(scope="module")
def order_chunks(sf_dir):
    """The orders fixture as N_CHUNKS orderkey-ordered arrow tables.
    Orderkey order interleaves dates across chunks, so per-date maxes
    genuinely ARRIVE INCREMENTALLY -- the retraction path the skyline
    twin exists to exercise."""
    con = duckdb.connect()
    try:
        tbl = con.execute(
            f"SELECT * FROM '{sf_dir}/orders.parquet' ORDER BY o_orderkey"
        ).arrow()
    finally:
        con.close()
    n = tbl.num_rows
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    return [tbl.slice(i * step, step) for i in range(N_CHUNKS)]


def test_skyline_stream_matches_batch(spark, sf_dir, order_chunks, tmp_path):
    """The incrementally-maintained Pareto frontier equals the batch
    orders_skyline_pareto row-for-row after the stream drains, across a
    mid-stream restart.  The state is the per-date max summary (max-
    mergeable, commutative -- no arrival-order precondition); the
    frontier is recomputed from it on read, so late-arriving higher
    prices retract dominated members with no explicit bookkeeping."""
    from pyspark.sql import functions as F

    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "sky_state"
    cp = tmp_path / "cp_sky"
    input_dir.mkdir()

    _drop(order_chunks, input_dir, 0, 2)
    _run(sp.run_skyline_stream(spark, str(input_dir), str(state), str(cp)))
    _drop(order_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_skyline_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        tuple(r) for r in sp.read_skyline(spark, str(state)).collect()
    }
    batch = {
        tuple(r)
        for r in all_specs()["orders_skyline_pareto"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert streamed == batch, f"{len(streamed ^ batch)} frontier rows differ"
    # non-vacuous max-merge: at least one date's stored max must have
    # CHANGED across batches (a later batch beat an earlier max), which
    # is exactly the late-data case the recompute-on-read absorbs
    hist = spark.read.parquet(str(state) + "_bydate")
    moved = (
        hist.groupBy("d")
        .agg(F.count_distinct("mx").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert moved > 0, "no per-date max was ever beaten across batches"


def _drop_in_order(chunks, input_dir, order):
    """Write chunk files so Spark's mtime-ordered file source processes
    them in EXACTLY the given chunk order (mtime = position in ``order``,
    one second apart) -- unlike :func:`_drop`, whose ``base + i``
    convention re-sorts any drop sequence back to ascending chunk id."""
    base = time.time()
    for pos, i in enumerate(order):
        path = f"{input_dir}/chunk{i}.parquet"
        pq.write_table(chunks[i], path)
        os.utime(path, (base + pos, base + pos))


def test_cdc_apply_stream_reverse_arrival_matches_batch(
    spark, sf_dir, event_chunks, tmp_path
):
    """Direct certification of the CDC twin's ANY-batch-split claim: the
    chunks arrive in REVERSE chronological order (the adversarial case
    for a latest-wins merge -- every later batch carries EARLIER data,
    so the stored winner must survive every subsequent merge) and the
    drained snapshot must still equal the batch query's."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "cdc_rev_state"
    cp = tmp_path / "cp_cdc_rev"
    input_dir.mkdir()

    _drop_in_order(
        event_chunks, input_dir, list(range(N_CHUNKS - 1, -1, -1))
    )
    _run(sp.run_cdc_apply_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        tuple(r) for r in sp.read_cdc_snapshot(spark, str(state)).collect()
    }
    batch = {
        tuple(r)
        for r in all_specs()["ev_cdc_apply_changelog"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert streamed == batch, f"{len(streamed ^ batch)} snapshot rows differ"


def test_skyline_stream_reverse_arrival_matches_batch(
    spark, sf_dir, order_chunks, tmp_path
):
    """Same adversarial-order certification for the skyline twin: the
    per-date max-merge is commutative, so reverse arrival must converge
    to the same frontier."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    input_dir = tmp_path / "in"
    state = tmp_path / "sky_rev_state"
    cp = tmp_path / "cp_sky_rev"
    input_dir.mkdir()

    _drop_in_order(
        order_chunks, input_dir, list(range(N_CHUNKS - 1, -1, -1))
    )
    _run(sp.run_skyline_stream(spark, str(input_dir), str(state), str(cp)))

    streamed = {
        tuple(r) for r in sp.read_skyline(spark, str(state)).collect()
    }
    batch = {
        tuple(r)
        for r in all_specs()["orders_skyline_pareto"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert streamed == batch, f"{len(streamed ^ batch)} frontier rows differ"


def _check_decode_gate_stream(spark, sf_dir, doc_chunks, tmp_path, gate):
    """Documents streamed as files through a decode gate's SAME
    mapInPandas stage must (a) survive a restart from the checkpoint
    with no loss and no dupes, and (b) reproduce the batch operator's
    rows EXACTLY -- every decoded stat, not just counts."""
    input_dir, out, cp = tmp_path / "in", tmp_path / "stats", tmp_path / "cp"
    input_dir.mkdir()

    def run():
        _run(sp.run_decode_gate_stream(spark, gate, str(input_dir), str(out), str(cp)))
        return sp.read_decode_gate_stats(spark, str(out))

    # phase 1: half the corpus
    _drop(doc_chunks, input_dir, 0, 2)
    n1 = run().count()
    assert n1 == sum(c.num_rows for c in doc_chunks[:2])

    # phase 2: restart with NO new data -> nothing reprocessed
    assert run().count() == n1

    # phase 3: rest arrives; restart from checkpoint
    _drop(doc_chunks, input_dir, 2, N_CHUNKS)
    streamed = run()
    total = sum(c.num_rows for c in doc_chunks)
    assert streamed.count() == total  # no loss
    assert streamed.select("doc_id").distinct().count() == total  # no dupes

    # batch-vs-stream equivalence: identical decoded stats row-for-row
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {tuple(r) for r in gate(docs).collect()}
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch, f"{len(got ^ batch)} decoded stat rows differ"


def test_jpeg_ac_stats_stream_matches_batch_with_restart(
    spark, sf_dir, doc_chunks, tmp_path
):
    """Streaming twin of the mm_jpeg_ac_stats decode gate (VERDICT r15
    task 5)."""
    from flink_kafka_consumer_cassandra_output_spark.operators.multimodal import (
        jpeg_ac_stats,
    )

    _check_decode_gate_stream(spark, sf_dir, doc_chunks, tmp_path, jpeg_ac_stats)


def test_dsir_score_stream_matches_batch_with_restart(
    spark, sf_dir, doc_chunks, tmp_path
):
    """Streaming twin of doc_dsir_importance (VERDICT r16 task 5): the
    32-bucket model is trained ONCE (the batch coefficients, frozen),
    then documents streamed as files are scored by the row-wise narrow
    map.  The stream must (a) survive a restart from the checkpoint with
    no loss and no dupes, and (b) reproduce the batch operator's rows
    EXACTLY -- the same exact-integer histograms folded through the same
    fixed-order binary64 chain, so log_weight is bit-identical, not just
    close."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs
    from flink_kafka_consumer_cassandra_output_spark.plans.curation_queries import (
        dsir_coefficients,
    )

    lvals = dsir_coefficients(spark, sf_dir)
    input_dir, out, cp = tmp_path / "in", tmp_path / "dsir_scores", tmp_path / "cp_dsir"
    input_dir.mkdir()

    # phase 1: half the corpus
    _drop(doc_chunks, input_dir, 0, 2)
    _run(sp.run_dsir_score_stream(spark, str(input_dir), str(out), str(cp), lvals))
    n1 = sp.read_dsir_scores(spark, str(out)).count()
    assert n1 > 0

    # phase 2: restart with NO new data -> nothing reprocessed
    _run(sp.run_dsir_score_stream(spark, str(input_dir), str(out), str(cp), lvals))
    assert sp.read_dsir_scores(spark, str(out)).count() == n1

    # phase 3: rest arrives; restart from checkpoint
    _drop(doc_chunks, input_dir, 2, N_CHUNKS)
    _run(sp.run_dsir_score_stream(spark, str(input_dir), str(out), str(cp), lvals))
    streamed = sp.read_dsir_scores(spark, str(out))

    batch = {
        tuple(r)
        for r in all_specs()["doc_dsir_importance"].builder(spark, sf_dir).collect()
    }
    assert streamed.count() == len(batch)  # no loss
    assert streamed.select("doc_id").distinct().count() == len(batch)  # no dupes
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch, f"{len(got ^ batch)} score rows differ"


def test_jpeg_lossless_stats_stream_matches_batch_with_restart(
    spark, sf_dir, doc_chunks, tmp_path
):
    """Streaming twin of the r17 mm_jpeg_lossless_stats decode gate: the
    same exactly-once contract as the AC-stats twin."""
    from flink_kafka_consumer_cassandra_output_spark.operators.multimodal import (
        jpeg_lossless_stats,
    )

    _check_decode_gate_stream(
        spark, sf_dir, doc_chunks, tmp_path, jpeg_lossless_stats)
