"""Result-identity snapshot for the r17 optimization round.

Computes a canonical (order-insensitive, dtype-sensitive) sha256 per
registered query at a given SF and writes one JSON object.  Usage:

    python tools/snapshot_results.py out.json [name ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.

Run BEFORE and AFTER an optimization that restructures a builder, then
diff the two JSONs: an optimization must not move a single hash.  This is
the sf0.1-scale complement of tests/test_oracle_parity.py (sf0.001 vs
DuckDB): same canonicalization as tests/oracle.py (sorted columns, sorted
rows, tz-normalized), hashing the repr of values plus dtypes so a type
drift fails too.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.oracle import _canon  # noqa: E402
from flink_kafka_consumer_cassandra_output_spark.plans import all_specs  # noqa: E402
from flink_kafka_consumer_cassandra_output_spark.session import local_session  # noqa: E402


def frame_hash(pdf) -> str:
    c = _canon(pdf)
    h = hashlib.sha256()
    h.update(("|".join(f"{col}:{c[col].dtype}" for col in c.columns)).encode())
    for col in c.columns:
        for v in c[col].to_numpy():
            h.update(repr(v).encode())
            h.update(b"\x00")
    return h.hexdigest()


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Python workers (the mapInPandas decode gates) import the package
    # too: they inherit PYTHONPATH from the JVM, which inherits it from
    # here, so it must name the repo root before the session starts.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    spark = local_session()
    specs = all_specs()
    if not names:
        names = sorted(specs)
    out = {}
    for n in names:
        try:
            pdf = specs[n].builder(spark, sf_dir).toPandas()
            out[n] = {"rows": len(pdf), "hash": frame_hash(pdf)}
        except Exception as e:  # record, keep going
            out[n] = {"error": f"{type(e).__name__}: {e}"[:300]}
        print(n, out[n], file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
