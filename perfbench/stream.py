"""``stream_ingest``: a burst of ODS files drained into the layered warehouse.

The streaming query ``layered_warehouse_stream`` (ODS → DWD → DWS)
consumes an ODS directory of ``events`` parquet files, and
``foreachBatch(upsert_latest_by_key)`` maintains the bucketed DWS
parquet store. After a warm-up file, ``BURST_FILES`` ts-ordered files
(the last one a far-future sentinel that closes every event-time
window) land in the directory at once, just after a trigger boundary,
and the query drains them ``FILES_PER_TRIGGER`` files per micro-batch:
three micro-batches of equal size.

This measures how long a burst takes to drain, not freshness at a
steady arrival rate: a DWS micro-batch costs 5-7 s on the 4-core
reference box, mostly fixed, so a steady state (many micro-batches)
does not fit in a run. The latency of a file is the time from its
landing until the query has committed the micro-batch that read it;
file membership comes from the query's file-source log and commit times
from its commit log. Set-up is the import, the session start and the
warm-up file, which the query must commit (with its trailing no-data
batch) before the burst lands. After the run, the store and
``ads_top_segments`` over it are checked against the same layering
computed in batch.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import telemetry
from harness import SCALE, Context, cpu_jiffies, exec_layers, start_session, steal_pct, timed
from oracle import duck_connection, rows_differ

# 119 data files and the sentinel: at least 100, so the p90 keeps ten
# files beyond it.
BURST_FILES = 120
FILES_PER_TRIGGER = 40
TRIGGER_S = 1
LAND_AFTER_BOUNDARY_S = 0.1
WARMUP_ROWS = 200
DWS_KEYS = ["day_start", "event_type", "nation"]
DWS_BUCKETS = 8
WAIT_TIMEOUT_S = 60.0  # per wait; keeps a stalled run well inside its time limit


def slices(events: pa.Table, ctx: Context) -> list[pa.Table]:
    """Warm-up slice, ``BURST_FILES - 1`` seed-cut slices, then the sentinel.

    Slices are contiguous in ts, so the DWS watermark drops nothing; the
    seed picks the cut points and the row order inside each slice. The
    sentinel's far-future ts moves the watermark past every window, and
    its commit marks the end of the run."""
    events = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = events.num_rows
    cuts = sorted(ctx.rng.sample(range(WARMUP_ROWS + 1, n), BURST_FILES - 2))
    bounds = [0, WARMUP_ROWS, *cuts, n]
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        idx = list(range(lo, hi))
        ctx.rng.shuffle(idx)
        out.append(events.take(idx))
    last = events.column("ts")[n - 1].as_py()
    sentinel = {
        "event_id": [10**9],
        "ts": [last.replace(year=last.year + 1)],
        "user_id": [-1],
        "event_type": ["noop"],
        "value": [0.0],
        "props": ["{}"],
    }
    out.append(pa.Table.from_pydict(sentinel, schema=events.schema))
    return out


def write_file(tbl: pa.Table, ods: str, staging: str, stem: str) -> str:
    tmp = os.path.join(staging, stem + ".parquet")
    pq.write_table(tbl, tmp)
    final = os.path.join(ods, stem + ".parquet")
    os.rename(tmp, final)
    return final


def land_burst(tables: list[pa.Table], ods: str, staging: str) -> dict[str, float]:
    """Stage every file, then move them all into ``ods`` just after a
    trigger boundary, so the next trigger lists the whole burst. Each
    file gets its own increasing modification time, because the file
    source takes files in modification-time order. Returns path →
    landing time (epoch s)."""
    stems = [f"part-{i + 1:05d}.parquet" for i in range(len(tables))]
    for stem, tbl in zip(stems, tables):
        pq.write_table(tbl, os.path.join(staging, stem))
    time.sleep(TRIGGER_S - time.time() % TRIGGER_S + LAND_AFTER_BOUNDARY_S)
    base_ns = time.time_ns()
    landed = {}
    for i, stem in enumerate(stems):
        tmp, final = os.path.join(staging, stem), os.path.join(ods, stem)
        mtime_ns = base_ns + i * 1_000_000
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
        os.rename(tmp, final)
        landed[final] = time.time()
    return landed


def _committed(checkpoint: str, path: str) -> bool:
    batch = telemetry.file_batches(checkpoint).get(path)
    return batch is not None and batch in telemetry.commit_times(checkpoint)


def _idle(query, checkpoint: str) -> bool:
    """No trigger running and every planned batch committed."""
    offsets = [int(n) for n in os.listdir(os.path.join(checkpoint, "offsets")) if n.isdigit()]
    commits = telemetry.commit_times(checkpoint)
    return not query.status["isTriggerActive"] and max(offsets, default=-1) == max(commits, default=-1)


def _wait(query, checkpoint: str, path: str) -> bool:
    """Until the query has committed the batch that read ``path`` and
    then stayed idle for two polls in a row (so a trailing no-data
    batch, which evicts DWS windows, is done before anyone reads the
    store or stops the query). False after ``WAIT_TIMEOUT_S``."""
    deadline = time.monotonic() + WAIT_TIMEOUT_S
    quiet = 0
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        done = _committed(checkpoint, path) and _idle(query, checkpoint)
        quiet = quiet + 1 if done else 0
        if quiet >= 2:
            return True
        time.sleep(0.1)
    return False


def _listener(ctx: Context):
    """A Python ``StreamingQueryListener`` keeping every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t0 = time.perf_counter()
            self.progress.append(json.loads(event.progress.json))
            ctx.add_hook_time(time.perf_counter() - t0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def run(ctx: Context) -> dict:
    i0 = time.perf_counter()
    from pyspark.sql import functions as F

    from flink_realtime_edu_spark.sources import TS_SHAPE_NTZ_MICROS, load
    from flink_realtime_edu_spark.streaming.jobs import (
        ads_top_segments,
        layered_warehouse_stream,
        load_events_stream,
    )
    from flink_realtime_edu_spark.streaming.sinks import read_upsert_table, upsert_latest_by_key

    import_s = time.perf_counter() - i0

    ods, staging = os.path.join(ctx.work, "ods"), os.path.join(ctx.work, "staging")
    store, ckpt = os.path.join(ctx.work, "dws_store"), os.path.join(ctx.work, "ckpt_dws")
    os.makedirs(ods)
    os.makedirs(staging)
    files = slices(datagen.events_table(SCALE), ctx)
    warm_path = write_file(files[0], ods, staging, "part-00000")

    spark, start_s = timed(start_session)
    listener = None
    if ctx.trace:
        listener = _listener(ctx)
        spark.streams.addListener(listener)

    t0 = time.perf_counter()
    dim = (
        load(spark, ctx.data_dir, "customer")
        .join(load(spark, ctx.data_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    events = load_events_stream(spark, ods, max_files_per_trigger=FILES_PER_TRIGGER, ts_shape=TS_SHAPE_NTZ_MICROS)
    dws = layered_warehouse_stream(events, dim)
    build_s = time.perf_counter() - t0

    sink_ms: list[tuple[int, float]] = []
    upsert = upsert_latest_by_key(store, DWS_KEYS, "n_events", n_buckets=DWS_BUCKETS)

    def sink(batch_df, batch_id):
        """The upsert sink, timed; in traced runs under a per-micro-batch
        job group, with the stream's own group restored afterwards."""
        sc = batch_df.sparkSession.sparkContext
        if ctx.trace:
            h0 = time.perf_counter()
            prev = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(f"dws:{batch_id}", f"dws micro-batch {batch_id}")
            ctx.add_hook_time(time.perf_counter() - h0)
        s0 = time.perf_counter()
        try:
            upsert(batch_df, batch_id)
        finally:
            sink_ms.append((batch_id, (time.perf_counter() - s0) * 1000.0))
            if ctx.trace and prev[0] is not None:
                h0 = time.perf_counter()
                sc.setJobGroup(prev[0], prev[1] or "", True)
                ctx.add_hook_time(time.perf_counter() - h0)

    query = (
        dws.writeStream.queryName("dws").outputMode("update").foreachBatch(sink)
        .trigger(processingTime=f"{TRIGGER_S} seconds").option("checkpointLocation", ckpt).start()
    )
    try:
        if not _wait(query, ckpt, warm_path):
            raise RuntimeError("the warm-up file was not committed")
        warm_s = time.perf_counter() - t0

        hook0 = ctx.hook_s
        jiffies0 = cpu_jiffies()
        w0 = time.perf_counter()
        landed = land_burst(files[1:], ods, staging)
        sentinel = max(landed, key=landed.get)
        drained = _wait(query, ckpt, sentinel)
        window_s = time.perf_counter() - w0
        steal = steal_pct(jiffies0)
        hook_s = ctx.hook_s - hook0
        progress = list(query.recentProgress)
    finally:
        query.stop()

    data_landed = {p: t for p, t in landed.items() if p != sentinel}
    fresh = telemetry.freshness(data_landed, ckpt)
    reached = [v for v in fresh.values() if v is not None]
    read_by = telemetry.file_batches(ckpt)
    per_batch = Counter(read_by[p] for p in data_landed if p in read_by)
    files_per_batch = [per_batch[b] for b in sorted(per_batch)]

    errors: dict[str, str] = {}
    if not drained:
        errors["drain"] = f"the sentinel was not committed within {WAIT_TIMEOUT_S}s"
    try:
        _check_dws(ctx.data_dir, read_upsert_table(spark, store), ads_top_segments, errors)
    except Exception as exc:  # noqa: BLE001 — reported as a failed check
        traceback.print_exc()
        errors["dws"] = f"{type(exc).__name__}: {exc}"
    if ctx.trace:
        spark.streams.removeListener(listener)
    spark.stop()

    attempted = len(data_landed)
    # A failed output check fails every file that fed that output.
    failed = attempted if errors else attempted - len(reached)
    batches = _batches(progress)
    tail_pct = telemetry.tail_percentile(len(reached)) or 50
    out = {
        "attempted": attempted,
        "failed": failed,
        "correct": not errors and failed == 0,
        "errors": errors,
        "end_to_end": {
            "setup_s": import_s + start_s + warm_s,
            "pass_s": statistics.median(p["durationMs"]["triggerExecution"] for p in batches) / 1000.0,
            "latency_p50_s": telemetry.percentile(reached, 50),
            "latency_tail_s": telemetry.percentile(reached, tail_pct),
        },
        "stamp": {
            "files": attempted,
            "files_reached": len(reached),
            "tail_percentile": tail_pct,
            "files_per_batch": files_per_batch,
            "land_ms": (max(landed.values()) - min(landed.values())) * 1000.0,
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in batches],
            "warmup_batch_ms": [p["durationMs"]["triggerExecution"] for p in progress if p["batchId"] < 2],
            "window_s": window_s,
            "steal_pct": steal,
        },
    }
    if ctx.trace:
        out["layers"], out["detail"] = _layers(
            ctx, listener.progress, sink_ms, files_per_batch, store,
            import_s, start_s, build_s, warm_s, hook_s, window_s,
        )
        out["layers"]["trace.pass_s"] = out["end_to_end"]["pass_s"]
    return out


def _batches(progress: list[dict]) -> list[dict]:
    """Measured micro-batches: non-empty, after the warm-up batch 0."""
    return [p for p in progress if p["batchId"] >= 1 and p.get("numInputRows", 0) > 0]


# The DWS layering of layered_warehouse_stream, in batch, as DuckDB SQL
# (sum_value uses the engine's documented dec_sum twin).
LAYERING_SQL = """
WITH dim AS (
  SELECT c_custkey AS user_id, n_name AS nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
dwd AS (
  SELECT e.ts, e.event_type, e.value, dim.nation,
         TRY_CAST(regexp_extract(e.props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) AS k
  FROM events e LEFT JOIN dim USING (user_id)
  WHERE e.event_type IN ('click', 'view', 'purchase'))
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type, nation,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_value,
       COUNT(k) AS n_with_props
FROM dwd GROUP BY 1, 2, 3"""

TOP_SEGMENTS_SQL = f"""
SELECT event_type, nation,
       ROUND(CAST(SUM(CAST(sum_value AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_value,
       SUM(n_events) AS total_events
FROM ({LAYERING_SQL})
GROUP BY 1, 2 ORDER BY total_value DESC, event_type, nation LIMIT 5"""


def _check_dws(data_dir, got, ads_top_segments, errors) -> None:
    """The DWS store, and ads_top_segments over it, against the batch
    layering of the same events."""
    con = duck_connection(data_dir)
    try:
        for key, df, sql in (
            ("dws", got, LAYERING_SQL),
            ("ads", ads_top_segments(got), TOP_SEGMENTS_SQL),
        ):
            cur = con.execute(sql)
            want_cols = [d[0] for d in cur.description]
            want = cur.fetchall()
            reason = rows_differ(df.select(*want_cols).collect(), want_cols, want, want_cols)
            if reason:
                errors[key] = f"{key} result differs from the batch layering: {reason}"
    finally:
        con.close()


def _layers(ctx, progress, sink_ms, files_per_batch, store, import_s, start_s, build_s, warm_s, hook_s, window_s):
    """Generic per-layer metrics (per measured micro-batch medians) and
    the streaming / sink detail, from the listener's progress events,
    the folded event log and the checkpoint."""
    groups = telemetry.fold_event_log(telemetry.find_event_log(ctx.event_log_dir))
    batches = _batches(progress)
    recs = [groups[f"dws:{p['batchId']}"] for p in batches if f"dws:{p['batchId']}" in groups]
    dm = [p["durationMs"] for p in batches]
    states = [so for p in batches for so in p.get("stateOperators") or []]
    last = (batches[-1].get("stateOperators") or []) if batches else []
    upserts = [ms for b, ms in sink_ms if b >= 1]
    store_files = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")]

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0

    detail = {
        "streaming.dws.batches": len(batches),
        "streaming.dws.batch_ms_p50": med(d["triggerExecution"] for d in dm),
        "streaming.dws.add_batch_ms": med(d.get("addBatch", 0) for d in dm),
        "streaming.dws.planning_ms": med(d.get("queryPlanning", 0) for d in dm),
        "streaming.dws.wal_commit_ms": med(d.get("walCommit", 0) for d in dm),
        "streaming.dws.rows_per_batch_p50": med(p["numInputRows"] for p in batches),
        "streaming.dws.state_rows": sum(so.get("numRowsTotal", 0) for so in last),
        "streaming.dws.state_mem_bytes": sum(so.get("memoryUsedBytes", 0) for so in last),
        "streaming.dws.state_commit_ms": med(so.get("commitTimeMs", 0) for so in states),
        "streaming.dws.state_update_ms": med(so.get("allUpdatesTimeMs", 0) for so in states),
        "streaming.dws.state_removal_ms": med(so.get("allRemovalsTimeMs", 0) for so in states),
        "streaming.dws.state_partitions": max((so.get("numShufflePartitions", 0) for so in states), default=0),
        "streaming.dws.backlog_files_max": max(files_per_batch, default=0),
        "sinks.upsert_ms_p50": med(upserts),
        "sinks.upsert_bytes": sum(os.path.getsize(f) for f in store_files),
        "sinks.store_files": len(store_files),
    }
    layers = {
        "session.start_s": start_s,
        "session.import_s": import_s,
        "session.warmup_s": warm_s,
        "queries.build_s": build_s,
        "queries.exec_s": med(upserts) / 1000.0,
        "trace.hook_pct": 100.0 * hook_s / window_s,
    }
    layers.update(exec_layers(telemetry.median_record(recs) if recs else telemetry.sum_records([])))
    return layers, detail
