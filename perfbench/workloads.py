"""The benchmark workloads, their output checks and layer probes.

Each workload function receives a :class:`Run` and fills in its operation
counts, its correctness verdict and its metrics.  End-to-end metrics are
measured with tracing off; ``--trace 1`` repeats the run with spans on and
then measures every layer, using probes for the layers the workload itself
does not pass through.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import tracing as tr
from flink_kafka_consumer_cassandra_output_spark.functions import crypto
from flink_kafka_consumer_cassandra_output_spark.materialize import SESSION_MEMO_BUILD_SECONDS
from flink_kafka_consumer_cassandra_output_spark.operators import message_pipeline as mp
from flink_kafka_consumer_cassandra_output_spark.plans.registry import all_specs
from flink_kafka_consumer_cassandra_output_spark.session import local_session
from flink_kafka_consumer_cassandra_output_spark.sources import avro_py as avro
from flink_kafka_consumer_cassandra_output_spark.streaming import pipeline

SETUP_ROUNDS = 3
DRIVER_MEM = "2g"

# backfill: 3 seeded replicas of a 25k-event base -> 75k messages per replay,
# 4 Kafka partitions.  Replay time falls over the first replays of a JVM
# (while it compiles) and again over the first replays of a new session, so
# each set-up round replays the topic WARM_REPLAYS times
BACKFILL_BASE, BACKFILL_K = 25_000, 3
WARM_REPLAYS = 3
#: messages in the replay the layer probes decode
PROBE_MESSAGES = 25_000
# stream_live: open-loop arrivals on a fixed schedule (about a third of the
# ~25k rows/s the pipeline sustains on 4 cores with back-to-back triggers),
# triggers on a fixed cadence like a processing-time trigger: a tick with
# pending chunks runs the query, and a trigger that overruns its tick starts
# the next one at once
CHUNK_ROWS = 1_000
CHUNKS_PER_S = 8.0
TRIGGER_EVERY_S = 2.0
#: warm-up triggers in the first set-up round and in each later one
WARM_TRIGGERS_COLD, WARM_TRIGGERS = 3, 1
#: chunks per warm-up trigger: what arrives between two timed triggers, so
#: warm-up runs the batch sizes the timed region runs
WARM_CHUNKS_PER_TRIGGER = int(CHUNKS_PER_S * TRIGGER_EVERY_S)
DRAIN_S = 60.0
#: Layer probe for workloads that do not use the registry: two queries
#: sharing one memoized stage, so the second reuses the first's build, on a
#: generated fixture at this scale (1.0 = 6M lineitems).
PLANS_PROBE = ("basket_copurchase_lift", "part_itemsim_cf")
PROBE_SF = 0.002

#: End-to-end metrics, with their units; every workload reports all of them.
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "msgs_per_s": "1/s",
              "latency_p50_ms": "ms", "latency_tail_ms": "ms"}

PER_LAYER = (
    "session.start_s", "session.cold_start_s",
    "sources.avro_decode_s", "sources.avro_decode_rows", "sources.avro_decode_failures",
    "functions.aes_encrypt_s",
    "message_pipeline.detail_write_s", "message_pipeline.summary_write_s",
    "message_pipeline.detail_bytes", "message_pipeline.summary_rows",
    "streaming.trigger_ms", "streaming.query_start_ms", "streaming.queue_wait_ms",
    "streaming.gen_lag_ms", "streaming.batches", "streaming.rows_per_batch",
    "streaming.latest_offset_ms", "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "plans.build_s", "plans.exec_s",
    "materialize.memo_build_s", "materialize.memo_builds",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.task_run_s",
    "engine.task_cpu_s", "engine.gc_s", "engine.shuffle_read_bytes",
    "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.task_skew",
    "engine.planning_ms", "engine.fixed_overhead_s",
)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    tracer: tr.Tracer = field(init=False)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    diag: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def __post_init__(self):
        self.tracer = tr.Tracer(self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.correct = False
        self.problems.append(what[:300])


# ------------------------------------------------------------ session

def new_session(run: Run):
    t = time.perf_counter()
    spark = local_session(cores=run.cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": run.path("warehouse"),
        # whole heap reserved and young generation fixed: peak RSS then
        # follows retained data, not the collector's resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn512m",
    })
    return spark, time.perf_counter() - t


def set_up(run: Run, warm) -> object:
    """SETUP_ROUNDS x (session start + warm-up); the last session stays.
    Only the first round launches the JVM, so its session start is reported
    on its own as ``session.cold_start_s``; ``setup_s`` is the median round."""
    rounds, starts, spark = [], [], None
    for r in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        spark, start_s = new_session(run)
        t = time.perf_counter()
        warm(spark, r)
        rounds.append(start_s + time.perf_counter() - t)
        starts.append(start_s)
    run.e2e["setup_s"] = statistics.median(rounds)
    run.layer.update({"session.start_s": statistics.median(starts[1:]),
                      "session.cold_start_s": starts[0]})
    run.diag.update({"setup_rounds_s": rounds, "session_starts_s": starts})
    return spark


def finish_e2e(run: Run, spark, lat: list[float], msgs_per_s: float) -> None:
    """Median and tail of the operation latencies ``lat`` (ms), peak memory
    and the throughput."""
    tail, pct, n = tr.percentile_tail(lat)
    run.e2e.update({"latency_p50_ms": statistics.median(lat), "latency_tail_ms": tail,
                    "peak_rss_mb": tr.peak_rss_mb(spark), "msgs_per_s": msgs_per_s})
    run.diag.update({"tail_percentile": pct, "latency_samples": n})


def _du_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{root}/**/*.parquet", recursive=True))


# ----------------------------------------------------------- backfill

def _replay_input(run: Run, name: str, n_base: int, k: int, stream: int):
    rng = np.random.default_rng([run.seed, stream])
    ev = gen.replicate(gen.events_table(rng, n_base), k, rng, 10**8)
    os.makedirs(run.path("input"), exist_ok=True)
    path = run.path("input", name)
    n = gen.kafka_replay(ev, path)
    return path, n, gen.expected_messages(ev)[1], ev


def backfill(run: Run) -> None:
    t = time.perf_counter()
    path, n, summary, ev = _replay_input(run, "replay", BACKFILL_BASE, BACKFILL_K, 2)
    run.diag["gen_s"] = time.perf_counter() - t
    run.diag["input_sha256"] = gen.tree_hash(run.path("input"))

    def replay(spark, src, out):
        with run.tracer.span("sources.decode_messages"):
            msgs = avro.decode_messages(spark.read.parquet(src))
        with run.tracer.span("message_pipeline.write_dual_sink"):
            mp.write_dual_sink(msgs, out)

    out = run.path("out")

    def warm(spark, r):
        for _ in range(WARM_REPLAYS):
            replay(spark, path, out)

    spark = set_up(run, warm)
    first_job = tr.last_job_id(spark)
    lat, t0 = [], time.perf_counter()
    while not lat or time.perf_counter() - t0 < run.seconds:
        run.attempted += 1
        a = time.perf_counter()
        try:
            with run.tracer.span("replay", op=f"replay{run.attempted}"):
                replay(spark, path, out)
            lat.append((time.perf_counter() - a) * 1000.0)
        except Exception as e:  # a failed replay counts, it does not crash the run
            run.failed += 1
            run.fail(f"replay {run.attempted}: {type(e).__name__}: {e}")
            if run.failed >= 2:
                break
    wall = time.perf_counter() - t0
    if run.trace:  # before the checks add jobs of their own
        run.layer.update(tr.engine_metrics(spark, first_job, wall, run.cores))
    if not lat:
        return
    # throughput over the whole timed region; the latencies are per replay
    finish_e2e(run, spark, lat, msgs_per_s=n * len(lat) / (sum(lat) / 1000.0))
    run.diag.update({"messages_per_replay": n, "replay_ms": [round(v, 1) for v in lat]})
    _check_backfill(run, spark, out, n, summary, ev)
    if run.trace:
        _probe_message_path(run, spark, path)
        _probe_streaming(run, spark)
        _probe_plans(run, spark)
    spark.stop()


def _check_backfill(run: Run, spark, out: str, n: int, summary: set, ev) -> None:
    detail = spark.read.parquet(f"{out}/message_history")
    rows = detail.count()
    if rows != n:
        run.fail(f"detail rows {rows} != {n}")
    got = {tuple(r) for r in detail.select("username", "jid", "date_partition").distinct().collect()}
    if got != summary:
        run.fail(f"detail key set differs: {len(got)} vs {len(summary)} expected")
    summ = spark.read.parquet(f"{out}/message_history_summary")
    got_s = Counter(tuple(r) for r in summ.select("username", "jid", "date_partition").collect())
    if set(got_s) != summary or max(got_s.values()) != 1:
        run.fail("summary is not the distinct key set")
    # a sample decrypts back to the generated stanza
    ids = ev.column("event_id").to_pylist()
    types = ev.column("event_type").to_pylist()
    ks = [p[6:-1] for p in ev.column("props").to_pylist()]
    pick = {str(ids[i]): (types[i], ks[i]) for i in range(0, len(ids), max(1, len(ids) // 200))}
    sample = (detail.filter(F.col("message_id").isin(list(pick)))
              .select("message_id", crypto.aes_decrypt_b64(F.col("stanza")).alias("plain"))
              .collect())
    if len(sample) != len(pick):
        run.fail(f"decrypt sample found {len(sample)} of {len(pick)} rows")
    for mid, plain in sample:
        t, k = pick[mid]
        if plain != gen.stanza(t, k):
            run.fail(f"message {mid} decrypts to {plain!r}")
            break


def _probe_message_path(run: Run, spark, path: str) -> None:
    """sources / functions / message_pipeline layers on one replay input."""
    T = run.tracer
    failures, rows, times = 0, 0, []
    with T.span("probe.sources.avro_decode"):
        for _ in range(2):  # the first pass also starts the session's Python workers
            obs = Observation("decode")
            a = time.perf_counter()
            try:
                (avro.decode_messages(spark.read.parquet(path))
                 .observe(obs, F.count(F.lit(1)).alias("rows"))
                 .write.format("noop").mode("overwrite").save())
                rows = obs.get["rows"]
            except Exception:
                failures += 1
            times.append(time.perf_counter() - a)
    run.layer["sources.avro_decode_s"] = min(times)
    run.layer["sources.avro_decode_rows"] = rows
    run.layer["sources.avro_decode_failures"] = failures
    msgs = avro.decode_messages(spark.read.parquet(path)).persist()
    msgs.count()
    try:
        def noop_s(df):
            a = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - a

        with T.span("probe.functions.aes"):
            plain = min(noop_s(mp.detail_table(msgs, encrypt=False)) for _ in range(2))
            enc = min(noop_s(mp.detail_table(msgs, encrypt=True)) for _ in range(2))
        run.layer["functions.aes_encrypt_s"] = enc - plain
        out = run.path("probe_out")
        with T.span("probe.message_pipeline.detail_write"):
            a = time.perf_counter()
            mp.detail_table(msgs).write.mode("overwrite").partitionBy("date_partition").parquet(
                f"{out}/detail")
            run.layer["message_pipeline.detail_write_s"] = time.perf_counter() - a
        with T.span("probe.message_pipeline.summary_write"):
            a = time.perf_counter()
            mp.summary_distinct(msgs).write.mode("overwrite").parquet(f"{out}/summary")
            run.layer["message_pipeline.summary_write_s"] = time.perf_counter() - a
        run.layer["message_pipeline.detail_bytes"] = _du_bytes(f"{out}/detail")
        run.layer["message_pipeline.summary_rows"] = spark.read.parquet(f"{out}/summary").count()
        if "engine.planning_ms" not in run.layer:
            run.layer["engine.planning_ms"] = tr.planning_ms(mp.detail_table(msgs))
    finally:
        msgs.unpersist()


# -------------------------------------------------------- stream_live

class _Stream:
    """One watched directory, one persistent checkpoint, both sinks."""

    def __init__(self, run: Run, root: str):
        self.run = run
        self.stage, self.inp = f"{root}/stage", f"{root}/in"
        self.out, self.ckpt = f"{root}/out", f"{root}/ckpt"
        for d in (self.stage, self.inp):
            os.makedirs(d, exist_ok=True)
        self.file_batch: dict[str, int] = {}
        self.triggers: list[dict] = []

    def add_chunk(self, name: str, ev) -> None:
        pq.write_table(ev, f"{self.stage}/{name}.parquet")

    def release(self, name: str) -> None:
        os.rename(f"{self.stage}/{name}.parquet", f"{self.inp}/{name}.parquet")

    def trigger(self, spark) -> dict:
        T = self.run.tracer
        rec = {"start": time.perf_counter(), "error": None}
        try:
            with T.span("streaming.run_dual_sink_stream"):
                q = pipeline.run_dual_sink_stream(spark, self.inp, self.out, self.ckpt)
            rec["started"] = time.perf_counter()
            with T.span("streaming.await_trigger"):
                q.awaitTermination()
            rec["progress"] = [json.loads(p.json) for p in q.recentProgress]
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
            rec.setdefault("started", time.perf_counter())
            rec["progress"] = []
        rec["end"] = time.perf_counter()
        self.triggers.append(rec)
        return rec

    def committed(self) -> dict[str, int]:
        """chunk name -> batch id, for batches in the commit log."""
        src = f"{self.ckpt}/sources/0"
        for f in sorted(os.listdir(src)) if os.path.isdir(src) else ():
            if f.startswith("."):
                continue
            batch = int(f.split(".")[0])
            with open(f"{src}/{f}") as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        name = os.path.basename(e["path"])[:-len(".parquet")]
                        self.file_batch.setdefault(name, e.get("batchId", batch))
        done = {int(f) for f in os.listdir(f"{self.ckpt}/commits") if f.isdigit()} \
            if os.path.isdir(f"{self.ckpt}/commits") else set()
        return {k: b for k, b in self.file_batch.items() if b in done}


def _chunk_tables(run: Run, n: int, stream: int):
    rng = np.random.default_rng([run.seed, stream])
    return [gen.events_table(rng, CHUNK_ROWS, first_id=i * CHUNK_ROWS) for i in range(n)]


def stream_live(run: Run) -> None:
    t = time.perf_counter()
    n_timed = max(1, int(run.seconds * CHUNKS_PER_S))
    n_warm = (WARM_TRIGGERS_COLD + (SETUP_ROUNDS - 1) * WARM_TRIGGERS) * WARM_CHUNKS_PER_TRIGGER
    tables = _chunk_tables(run, n_warm + n_timed, 4)
    st = _Stream(run, run.path("stream"))
    names = [f"chunk_{i:05d}" for i in range(len(tables))]
    for name, tbl in zip(names, tables):
        st.add_chunk(name, tbl)
    run.diag["gen_s"] = time.perf_counter() - t
    run.diag["input_sha256"] = gen.tree_hash(st.stage)
    warm_names, timed_names = names[:n_warm], names[n_warm:]

    pending = iter(warm_names)

    def warm(spark, r):
        for _ in range(WARM_TRIGGERS_COLD if r == 0 else WARM_TRIGGERS):
            for name in itertools.islice(pending, WARM_CHUNKS_PER_TRIGGER):
                st.release(name)
            st.trigger(spark)

    spark = set_up(run, warm)
    n_warm_triggers = len(st.triggers)
    first_job = tr.last_job_id(spark)
    interval = 1.0 / CHUNKS_PER_S
    released: dict[str, float] = {}
    t0 = time.perf_counter() + 0.05
    due = {name: t0 + i * interval for i, name in enumerate(timed_names)}

    def generator():
        for name in timed_names:
            time.sleep(max(0.0, due[name] - time.perf_counter()))
            st.release(name)
            released[name] = time.perf_counter()

    th = threading.Thread(target=generator, daemon=True)
    th.start()
    commit_at: dict[str, float] = {}
    deadline = t0 + run.seconds + DRAIN_S
    tick = t0 + 0.01  # just after the chunk due on the same tick
    with run.tracer.span("stream.timed"):
        while len(commit_at) < len(timed_names) and time.perf_counter() < deadline:
            time.sleep(max(0.0, tick - time.perf_counter()))
            tick += TRIGGER_EVERY_S
            if not any(n in released and n not in commit_at for n in timed_names):
                continue
            with run.tracer.span("streaming.trigger", op=f"trigger{len(st.triggers)}"):
                rec = st.trigger(spark)
            tick = max(tick, rec["end"])  # an overrun starts the next one at once
            if rec["error"]:
                run.fail(f"trigger: {rec['error']}")
            done = st.committed()
            for name in timed_names:
                if name in done and name not in commit_at:
                    commit_at[name] = rec["end"]
    th.join()
    wall = time.perf_counter() - t0
    if run.trace:  # before the checks add jobs of their own
        run.layer.update(tr.engine_metrics(spark, first_job, wall, run.cores))
    run.attempted = len(timed_names)
    run.failed = len(timed_names) - len(commit_at)
    lat = [(commit_at[n] - due[n]) * 1000.0 for n in timed_names if n in commit_at]
    if not lat:
        run.fail("no chunk committed")
        spark.stop()
        return
    timed_trig = [r for r in st.triggers[n_warm_triggers:] if r["progress"]]
    trig_ms = [(r["end"] - r["start"]) * 1000.0 for r in timed_trig]
    # rows committed per second the triggers were busy: the rate the program
    # sets, where the arrival rate is fixed by the schedule
    finish_e2e(run, spark, lat, msgs_per_s=len(commit_at) * CHUNK_ROWS / (sum(trig_ms) / 1000.0))
    q = max(1, len(trig_ms) // 4)
    run.diag.update({
        "chunk_rows": CHUNK_ROWS, "chunks_per_s": CHUNKS_PER_S,
        "triggers": len(trig_ms),
        "trigger_ms_first_quarter": statistics.median(trig_ms[:q]) if trig_ms else None,
        "trigger_ms_last_quarter": statistics.median(trig_ms[-q:]) if trig_ms else None,
    })
    _check_stream(run, spark, st, tables)
    if run.trace:
        run.layer.update(_streaming_layer(timed_trig, released, due, commit_at))
        path, *_ = _replay_input(run, "probe", PROBE_MESSAGES, 1, 5)
        _probe_message_path(run, spark, path)
        _probe_plans(run, spark)
    spark.stop()


def _streaming_layer(trig: list[dict], released: dict, due: dict, commit_at: dict) -> dict:
    med = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
    progress = [p for r in trig for p in r["progress"] if p.get("numInputRows", 0) > 0]

    def dur(key):
        return med([p["durationMs"].get(key, 0) for p in progress])

    # a chunk waits from its release to the start of the trigger that took it
    starts = sorted(r["start"] for r in trig)
    waits = []
    for name, t_rel in released.items():
        if name in commit_at:
            after = [s for s in starts if s >= t_rel]
            if after:
                waits.append((after[0] - t_rel) * 1000.0)
    return {
        "streaming.trigger_ms": med([(r["end"] - r["start"]) * 1000.0 for r in trig]),
        "streaming.query_start_ms": med([(r["started"] - r["start"]) * 1000.0 for r in trig]),
        "streaming.queue_wait_ms": med(waits),
        "streaming.gen_lag_ms": med([(released[n] - due[n]) * 1000.0 for n in released]),
        "streaming.batches": len(progress),
        "streaming.rows_per_batch": med([p["numInputRows"] for p in progress]),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
    }


def _check_stream(run: Run, spark, st: _Stream, tables) -> None:
    ids, summary = [], set()
    for tbl in tables:
        i, s = gen.expected_messages(tbl)
        ids += i
        summary |= s
    got = Counter(r[0] for r in spark.read.parquet(f"{st.out}/message_history")
                  .select("message_id").collect())
    missing = set(ids) - set(got)
    dupes = [k for k, c in got.items() if c > 1]
    extra = set(got) - set(ids)
    if missing or dupes or extra:
        run.fail(f"detail: {len(missing)} missing, {len(dupes)} duplicated, {len(extra)} unexpected")
    conv = {tuple(r) for r in spark.read.parquet(f"{st.out}/message_history_summary")
            .select("username", "jid", "date_partition").distinct().collect()}
    if conv != summary:
        run.fail(f"summary converged to {len(conv)} keys, expected {len(summary)}")


def _probe_streaming(run: Run, spark) -> None:
    """Closed-loop triggers on a few chunks, for workloads without a stream."""
    tables = _chunk_tables(run, 4, 6)
    st = _Stream(run, run.path("probe_stream"))
    released, due, commit_at = {}, {}, {}
    for i, tbl in enumerate(tables):
        name = f"chunk_{i:05d}"
        st.add_chunk(name, tbl)
        due[name] = time.perf_counter()
        st.release(name)
        released[name] = time.perf_counter()
        with run.tracer.span("probe.streaming.trigger"):
            rec = st.trigger(spark)
        commit_at[name] = rec["end"]
    run.layer.update(_streaming_layer(st.triggers[1:], released, due, commit_at))


# -------------------------------------------------------------- plans

def _probe_plans(run: Run, spark) -> None:
    """plans / materialize layers: build and collect each PLANS_PROBE query
    once on a small generated fixture."""
    fx = run.path("probe_fixture")
    gen.write_fixture(run.seed, PROBE_SF, fx)
    specs, memo = all_specs(), SESSION_MEMO_BUILD_SECONDS
    memo.clear()
    per = {}
    for name in PLANS_PROBE:
        memo_before = sum(memo.values())
        try:
            a = time.perf_counter()
            with run.tracer.span("probe.plans.build", op=name):
                df = specs[name].builder(spark, fx)
            b = time.perf_counter()
            with run.tracer.span("probe.plans.exec", op=name):
                df.toPandas()
            c = time.perf_counter()
        except Exception as e:
            run.fail(f"{name}: {type(e).__name__}: {e}")
            continue
        per[name] = {"build_s": b - a, "exec_s": c - b, "memo_s": sum(memo.values()) - memo_before}
    run.layer.update({
        "plans.build_s": sum(p["build_s"] for p in per.values()),
        "plans.exec_s": sum(p["exec_s"] for p in per.values()),
        "materialize.memo_build_s": sum(memo.values()),
        "materialize.memo_builds": len(memo),
    })
    run.diag["memo_build_s_by_tag"] = dict(memo)
    run.diag["plans_by_query"] = per


WORKLOADS = {"backfill": backfill, "stream_live": stream_live}
