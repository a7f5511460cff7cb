"""``ads_headline``: the registry's headline queries, closed loop, 1 client.

Set-up is the registry import, the session start, one correctness
pass and ``WARM_PASSES`` warm-up passes. In the correctness pass every
query is built and collected once, and its result compared with its
DuckDB oracle (outside the timing). The warm-up passes are untimed
passes like the timed ones, because the JIT keeps making passes faster
for a while: on the 4-core reference box, noop passes after the
correctness pass took 7.1, 5.5, 6.3 and 5.2 s, then 4.0-4.8 s. The
timed loop then runs whole passes (the seed permutes the query order of
each pass) through the noop sink: as many whole passes as fit in the
measured window, at least ``MIN_PASSES``. End-to-end metrics are
medians over them, so one pass slowed by the host (CPU steal, which the
stamp reports per pass) does not move them. Steal never makes a run
incorrect: ``correct`` reports only the checks of the outputs.
"""

from __future__ import annotations

import statistics
import time
import traceback

import telemetry
from harness import (
    Context,
    cpu_jiffies,
    exec_layers,
    set_job_group,
    start_session,
    steal_pct,
    timed,
    wrap_operators,
)
from oracle import duck_connection, mismatch

WARM_PASSES = 3
MIN_PASSES = 3


def run(ctx: Context) -> dict:
    if ctx.trace:
        wrap_operators(ctx)
    from flink_realtime_edu_spark.queries import load_registry

    registry, import_s = timed(load_registry)
    names = sorted(n for n, spec in registry.items() if spec.bench)
    spark, start_s = timed(start_session)

    # Correctness pass, then WARM_PASSES untimed noop passes: set-up.
    bad: dict[str, str] = {}
    warm_s = 0.0
    con = duck_connection(ctx.data_dir)
    for name in _order(ctx, names):
        set_job_group(ctx, spark, f"warmup:{name}")
        try:
            t0 = time.perf_counter()
            df = registry[name].build(spark, ctx.data_dir)
            rows = df.collect()
            warm_s += time.perf_counter() - t0
            reason = mismatch(df.schema, rows, con, registry[name].oracle)
        except Exception as exc:  # noqa: BLE001 — a failed query must not stop the others
            reason = f"{type(exc).__name__}: {exc}"
            traceback.print_exc()
        if reason:
            bad[name] = reason
    con.close()
    for i in range(WARM_PASSES):
        _, secs = timed(_noop_pass, ctx, spark, registry, names, f"warm{i}")
        warm_s += secs

    # Timed loop: whole passes while the next one is projected to end
    # inside the window, and at least MIN_PASSES.
    passes: list[tuple[int, dict[str, tuple[float, float]], float]] = []  # (index, walls, steal %)
    hook0 = ctx.hook_s
    ops0 = {k: list(v) for k, v in ctx.op_stats.items()}
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if len(passes) >= MIN_PASSES and elapsed * (len(passes) + 1) / len(passes) > ctx.seconds:
            break
        jiffies0 = cpu_jiffies()
        walls = _noop_pass(ctx, spark, registry, names, f"pass{len(passes)}")
        passes.append((len(passes), walls, steal_pct(jiffies0)))
    window_s = time.perf_counter() - t_start
    ops = {k: [a - b for a, b in zip(v, ops0.get(k, (0, 0.0, 0.0)))] for k, v in ctx.op_stats.items()}
    hook_s = ctx.hook_s - hook0 + sum(stat[2] for stat in ops.values())
    spark.stop()

    attempted = len(passes) * len(names)
    # A query that raised has no wall in that pass.
    raised = sum(len(names) - len(walls) for _, walls, _ in passes)
    failed = raised + sum(1 for _, walls, _ in passes for n in walls if n in bad)
    lat = {n: [sum(w[n]) for _, w, _ in passes if n in w] for n in names}
    pooled = [v for vals in lat.values() for v in vals]
    pass_walls = [sum(sum(v) for v in w.values()) for _, w, _ in passes]
    tail_pct = telemetry.tail_percentile(len(pooled))
    out = {
        "attempted": attempted,
        "failed": failed,
        "correct": not bad and failed == 0,
        "errors": bad,
        "end_to_end": {
            "setup_s": import_s + start_s + warm_s,
            "pass_s": statistics.median(pass_walls),
            "latency_p50_s": statistics.median(pooled),
            # Per-query tail: a run holds too few executions for a
            # pooled p90 with ten samples beyond it.
            "latency_tail_s": max(statistics.median(v) for v in lat.values() if v),
        },
        "stamp": {
            "passes": len(passes),
            "pass_walls_s": pass_walls,
            "pass_steal_pct": [p[2] for p in passes],
            "query_executions": len(pooled),
            "pooled_tail_percentile": tail_pct,
            "pooled_tail_s": telemetry.percentile(pooled, tail_pct) if tail_pct else None,
        },
    }
    if ctx.trace:
        out["layers"], out["detail"] = _layers(ctx, names, passes, ops, import_s, start_s, warm_s, hook_s, window_s)
        out["layers"]["trace.pass_s"] = out["end_to_end"]["pass_s"]
    return out


def _noop_pass(ctx: Context, spark, registry, names, label: str) -> dict[str, tuple[float, float]]:
    """One pass in seed order through the noop sink: name → (build s, exec s)
    for each query that did not raise."""
    walls = {}
    for name in _order(ctx, names):
        set_job_group(ctx, spark, f"{label}:{name}")
        try:
            t0 = time.perf_counter()
            df = registry[name].build(spark, ctx.data_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls[name] = (t1 - t0, time.perf_counter() - t1)
        except Exception:  # noqa: BLE001 — a failed query must not stop the others
            traceback.print_exc()
    return walls


def _order(ctx: Context, names: list[str]) -> list[str]:
    order = list(names)
    ctx.rng.shuffle(order)
    return order


def _layers(ctx, names, passes, ops, import_s, start_s, warm_s, hook_s, window_s):
    """Per-layer metrics as medians over the timed ``passes``; operator
    calls and seconds as means per pass."""
    groups = telemetry.fold_event_log(telemetry.find_event_log(ctx.event_log_dir))
    per_pass = [
        telemetry.sum_records(groups[f"pass{i}:{n}"] for n in names if f"pass{i}:{n}" in groups)
        for i, _, _ in passes
    ]
    ex = telemetry.median_record(per_pass)
    layers = {
        "session.start_s": start_s,
        "session.import_s": import_s,
        "session.warmup_s": warm_s,
        "queries.build_s": statistics.median(sum(b for b, _ in w.values()) for _, w, _ in passes),
        "queries.exec_s": statistics.median(sum(e for _, e in w.values()) for _, w, _ in passes),
        "trace.hook_pct": 100.0 * hook_s / window_s,
    }
    layers.update(exec_layers(ex))
    detail = {}
    for n in names:
        recs = [groups.get(f"pass{i}:{n}") for i, _, _ in passes]
        recs = [r for r in recs if r]
        walls = [sum(w[n]) for _, w, _ in passes if n in w]
        detail[f"query.{n}.wall_s"] = statistics.median(walls) if walls else None
        detail[f"query.{n}.jobs"] = statistics.median(r["jobs"] for r in recs) if recs else 0
        if recs:
            m = telemetry.median_record(recs)
            for k in ("stages", "longest_stage_ms", "longest_stage_tasks", "shuffle_read_bytes", "scan_tasks"):
                detail[f"query.{n}.{k}"] = m[k]
    for key, (n_calls, secs, _) in sorted(ops.items()):
        if not n_calls:
            continue
        detail[f"{key}.calls"] = n_calls / len(passes)
        detail[f"{key}.s"] = secs / len(passes)
    return layers, detail
