"""Benchmark of the message-stream engine: one command per workload run.

    python3 perfbench/run.py --workload {backfill,stream_live} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at the end.  With ``--trace 0`` the last
stdout line is one JSON object with the end-to-end metrics.  ``--trace 1``
is a separate run with spans on; it reports the per-layer metrics plus its
own end-to-end figures under ``trace.*``, so the tracing overhead is a
traced figure minus the untraced one, and it writes the spans and their
self times to ``.perfbench_work/<workload>_trace.json``.  Readable lines,
the session settings and diagnostics go to stderr.

Workloads (closed to outside load, one ``local[n]`` session per run):

- ``backfill``: Avro Kafka-topic replay through decode, AES and the dual
  sink; one operation per replay, throughput in messages per second of the
  timed replays, latency per replay.
- ``stream_live``: open-loop chunk arrivals into the file-source stream,
  triggered on a fixed cadence on one checkpoint; one operation per chunk,
  latency from the chunk's due time to the return of the trigger that
  committed it, throughput in rows per second of trigger time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_kafka_consumer_cassandra_output_spark"
#: A host whose 1-minute load exceeds cpus * this before the session starts
#: is flagged busy (the same pre-start gate as bench.py).
LOAD_GATE_FACTOR = 0.25
UNITS = (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("_skew", "ratio"), ("_per_batch", "rows"))


def _unit(name: str) -> str:
    return next((u for suffix, u in UNITS if name.endswith(suffix)), "count")


def _pin_environment(W, work: str) -> dict:
    """Session settings for this host, set before the JVM starts."""
    cores = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = W.DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers (mapInPandas decode) import the package: they inherit
    # PYTHONPATH from the JVM, which inherits it from here.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {
        "cores": cores,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "shuffle_partitions": cores,
        "load_1m_before": os.getloadavg()[0],
    }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def _stop_jvm() -> None:
    """Stop any session and wait for the JVM (and its workers) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = _pin_environment(W, work)
    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, settings["cores"])
    t, ticks = time.perf_counter(), _cpu_ticks()
    try:
        W.WORKLOADS[args.workload](run)
    except Exception as e:  # e.g. a worker that cannot import the package
        run.failed += 1
        run.fail(f"{type(e).__name__}: {e}")
    finally:
        _stop_jvm()
    settings["load_1m_after"] = os.getloadavg()[0]
    steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
    # time the hypervisor ran other guests on this machine's CPUs
    settings["cpu_steal_pct"] = 100.0 * steal / max(1, total)
    settings["busy_host"] = settings["load_1m_before"] > (os.cpu_count() or 1) * LOAD_GATE_FACTOR
    wall = time.perf_counter() - t

    e2e_units = W.END_TO_END
    missing = [m for m in e2e_units if m not in run.e2e]
    if missing:
        run.fail(f"no measurement for {missing}")
    if run.trace:
        missing = [m for m in W.PER_LAYER if m not in run.layer]
        if missing:
            run.fail(f"no layer measurement for {missing}")
    for p in run.problems:
        print(f"problem: {p}", file=sys.stderr)
    if settings["busy_host"]:
        print("warning: host was busy before the session started; rerun on an idle host",
              file=sys.stderr)
    print(f"{args.workload} seed={args.seed} wall={wall:.1f}s settings={json.dumps(settings)}",
          file=sys.stderr)
    for k, v in run.e2e.items():
        print(f"  {k:>16} = {v:.4f} {e2e_units[k]}", file=sys.stderr)
    print(f"  diagnostics: {json.dumps(run.diag, default=str)[:2000]}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if run.trace:
        run.tracer.dump(f"{work}_trace.json", {"settings": settings, "diag": run.diag,
                                               "e2e": run.e2e, "layer": run.layer})
    else:
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another workload's files are still there

    if run.trace:
        metrics = {k: {"value": run.layer[k], "unit": _unit(k)} for k in W.PER_LAYER if k in run.layer}
        metrics.update({f"trace.{k}": {"value": run.e2e[k], "unit": u}
                        for k, u in e2e_units.items() if k in run.e2e})
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in e2e_units.items() if k in run.e2e}
    print(json.dumps({"correct": run.correct and run.failed == 0,
                      "attempted": max(1, run.attempted), "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
