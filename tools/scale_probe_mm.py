"""Scaling probe: does the multimodal decode family scale ~linearly?

Usage: python tools/scale_probe_mm.py [k ...]   (default: 1 2 4 8)

The sf0.1 documents fixture is replicated k times with re-keyed doc_ids
(same scheme as tools/scale_probe_curation.py) and the real registered
builders run against the replicated dir.  Every operator is a narrow
per-document Arrow-batched `mapInPandas` stage, so rows — and decode
work — must grow exactly k with flat sec/k: a superlinear blow-up would
mean the decode stage acquired a shuffle or the Arrow batching collapsed
to per-row crossings.

- the decode gates (`operators.multimodal.DECODE_GATES`, one `mm_<gate>`
  query each): REAL synth + decode per row, dimensions a bounded
  function of doc_id, so per-row cost is O(1) and total cost O(rows);
- `mm_media_headers`: container synth + header parse per row;
- `mm_media_features`: byte-length/digest features per row.

Each k is measured with min-of-REPEATS noop-sink materializations after
one warm-up.  Paste the table into SCALING.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from flink_kafka_consumer_cassandra_output_spark.operators.multimodal import (  # noqa: E402
    DECODE_GATES,
)
from flink_kafka_consumer_cassandra_output_spark.plans import all_specs  # noqa: E402
from flink_kafka_consumer_cassandra_output_spark.session import local_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "2"))
ID_SPACE = 10_000_000

#: every decode gate's registered query (``mm_`` + gate name), so a new
#: gate cannot be left out, plus the header and feature stages
QUERIES = tuple(f"mm_{gate}" for gate in DECODE_GATES) + (
    "mm_media_headers", "mm_media_features")

#: comma-separated subset override (e.g. re-probing one new gate without
#: re-timing the whole family)
_only = os.environ.get("SPARK_GRAFT_PROBE_QUERIES")
if _only:
    _requested = tuple(q for q in _only.split(",") if q)
    _unknown = sorted(set(_requested) - set(QUERIES))
    if _unknown or not _requested:
        raise ValueError(
            "SPARK_GRAFT_PROBE_QUERIES names not in this probe's QUERIES: "
            f"{_unknown or '(empty)'}; known: {sorted(QUERIES)}"
        )
    QUERIES = tuple(q for q in QUERIES if q in _requested)


def write_replicated(spark, k: int, out_dir: str) -> None:
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    reps = spark.range(k).select(F.col("id").alias("rep"))
    out = (
        d.crossJoin(F.broadcast(reps))
        .select(
            (F.col("rep") * ID_SPACE + F.col("doc_id")).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8]
    spark = local_session(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    specs = all_specs()
    rows = []
    for k in ks:
        tmp = tempfile.mkdtemp(prefix=f"mmprobe_k{k}_")
        try:
            write_replicated(spark, k, tmp)
            n = spark.read.parquet(os.path.join(tmp, "documents.parquet")).count()
            for name in QUERIES:
                build = specs[name].builder
                build(spark, tmp).write.format("noop").mode("overwrite").save()
                best = None
                for _ in range(REPEATS):
                    t0 = time.perf_counter()
                    build(spark, tmp).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                rows.append((k, n, name, best))
                print(f"k={k} rows={n} {name}: {best:.2f}s", file=sys.stderr)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print("| k | doc rows | query | seconds | sec/k |")
    print("|---|---|---|---|---|")
    for k, n, name, s in rows:
        print(f"| {k} | {n} | {name} | {s:.2f} | {s / k:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
