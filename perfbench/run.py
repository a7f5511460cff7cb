#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ads_headline|stream_ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of this repository. It writes its
input tables from a fixed table seed (``datagen.TABLE_SEED``) at sf0.01
row counts; ``--seed`` permutes the batch query order and picks the
stream slicing. All files it writes stay under ``<checkout>/.perfbench``
and are removed at the end. Every run starts its own ``local[nproc]``
Spark session through the engine's ``session.get_spark``.

End-to-end metrics (``--trace 0``), per workload:

- ``setup_s``: registry/module import + session start + warm-up. Batch:
  one pass in which each query is collected (its result is checked
  against its DuckDB oracle outside the timing), then three untimed
  passes through the noop sink. Stream: until the warm-up file and its
  trailing no-data batch are committed.
- ``pass_s``: batch, median wall of one pass over the 9 queries (noop
  sink; as many whole passes as fit in ``--seconds``, at least three);
  stream, median wall of the three micro-batches that drain a burst of
  120 ODS files, 40 per micro-batch (the drain takes what it takes,
  about ``--seconds`` on the 4-core reference box).
- ``latency_p50_s``: batch, median of the pooled per-query executions;
  stream, median file latency (landed → committed in the DWS).
- ``latency_tail_s``: batch, the slowest query's median latency (a run
  holds too few executions for a pooled percentile with ten samples
  beyond it; the stamp reports the pooled tail the sample allows);
  stream, the highest percentile of file latency with ten files beyond
  it (p90 of the 119 data files).

``correct`` reports only the output checks. Host CPU steal (read from
``/proc/stat``) over each measured pass or window goes into the stamp.

Traced runs (``--trace 1``: uncompressed event log, job groups per
query / micro-batch, a ``StreamingQueryListener``, counting wrappers on
``operators.*``) report the per-layer metrics instead, as medians per
pass (batch) or per measured micro-batch (stream), and print the
per-query, per-operator, streaming and sink detail on a ``# detail``
line.

Output: ``#``-prefixed lines (environment stamp with nproc,
SPARK_GRAFT_CPUS, versions, sf, seed, error rate, peak RSS, steal and,
for the stream, how long the burst took to land; errors; detail), then, as
the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``perfbench/compare.py`` compares two saved outputs and
refuses when their stamps differ.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

WORKLOADS = ("ads_headline", "stream_ingest")

def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def _emit(tag: str, obj) -> None:
    print(f"# {tag} " + json.dumps(obj, sort_keys=True, default=str), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_realtime_edu_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a checkout of the engine "
            f"(no flink_realtime_edu_spark package under {root})",
            file=sys.stderr,
        )
        return 2

    import harness

    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = harness.Context(root, args.workload, args.seed, args.seconds, bool(args.trace))
    harness.prepare_environment(ctx)
    try:
        return _run(ctx)
    finally:
        try:
            if "pyspark" in sys.modules:
                harness.stop_jvm()
        finally:
            harness.stop_descendants()
            harness.cleanup(ctx)


def _run(ctx) -> int:
    import datagen
    import harness
    import telemetry

    datagen.write_tables(ctx.data_dir, harness.SCALE)
    rss = telemetry.RssSampler().start()
    if ctx.workload == "ads_headline":
        import batch as workload
    else:
        import stream as workload
    result = workload.run(ctx)
    peak_mb = rss.stop()

    import duckdb
    import pyspark

    stamp = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "sf": harness.SCALE,
        "nproc": harness.cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "error_rate": result["failed"] / max(1, result["attempted"]),
        "peak_rss_mb": peak_mb,
        **result.get("stamp", {}),
    }
    _emit("stamp", stamp)
    if result.get("errors"):
        _emit("errors", result["errors"])
    if ctx.trace:
        _emit("detail", result["detail"])
        metrics = dict(result["layers"], **{"process.peak_rss_mb": peak_mb})
    else:
        metrics = result["end_to_end"]
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
