"""Measurement helpers that read the engine from outside.

- :func:`fold_event_log` folds a Spark event log (uncompressed JSON
  lines) into one record per job group: jobs, stages, tasks, the
  longest stage and its task count, executor run/CPU/GC time, shuffle
  and spill bytes, and the file-scan input.
- :func:`tail_percentile` picks the highest percentile that still has
  at least ten samples beyond it.
- :func:`file_batches` / :func:`commit_times` / :func:`freshness` turn
  a streaming checkpoint's file-source, offset and commit logs into
  per-file freshness.
- :class:`RssSampler` tracks the peak resident memory of this process
  and every descendant (the JVM and the Python workers) from
  ``/proc/<pid>/status`` ``VmHWM``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
from collections import defaultdict
from urllib.parse import unquote, urlparse

EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "longest_stage_ms",
    "longest_stage_tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "scan_tasks",
)


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """One ``EXEC_KEYS`` record per job group found in the event log."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, dict] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            event = json.loads(line)
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                group = (event.get("Properties") or {}).get("spark.jobGroup.id") or "ungrouped"
                jobs[group] += 1
                for sid in event.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = event["Stage Info"]
                stages[info["Stage ID"]] = {
                    "ms": info.get("Completion Time", 0) - info.get("Submission Time", 0),
                    "tasks": info["Number of Tasks"],
                    "scan": any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])),
                }
            elif kind == "SparkListenerTaskEnd":
                m = event.get("Task Metrics")
                if not m:
                    continue
                t = tasks[event["Stage ID"]]
                sr = m.get("Shuffle Read Metrics", {})
                t["executor_run_ms"] += m.get("Executor Run Time", 0)
                t["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                t["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                t["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
    out: dict[str, dict[str, float]] = {}
    for group, n_jobs in jobs.items():
        out[group] = dict.fromkeys(EXEC_KEYS, 0)
        out[group]["jobs"] = n_jobs
    for sid, st in stages.items():
        group = stage_group.get(sid, "ungrouped")
        rec = out.setdefault(group, dict.fromkeys(EXEC_KEYS, 0))
        rec["stages"] += 1
        rec["tasks"] += st["tasks"]
        if st["scan"]:
            rec["scan_tasks"] += st["tasks"]
        if st["ms"] > rec["longest_stage_ms"]:
            rec["longest_stage_ms"] = st["ms"]
            rec["longest_stage_tasks"] = st["tasks"]
        for key, value in tasks.get(sid, {}).items():
            rec[key] += value
    return out


def find_event_log(log_dir: str) -> str:
    """The single finished (non ``.inprogress``) event log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def sum_records(records) -> dict[str, float]:
    """Add ``EXEC_KEYS`` records; the longest stage is the max, not a sum."""
    out = dict.fromkeys(EXEC_KEYS, 0)
    for rec in records:
        for key in EXEC_KEYS:
            if key == "longest_stage_ms":
                if rec[key] > out[key]:
                    out[key] = rec[key]
                    out["longest_stage_tasks"] = rec["longest_stage_tasks"]
            elif key != "longest_stage_tasks":
                out[key] += rec[key]
    return out


def median_record(records) -> dict[str, float]:
    """Per-key median of ``EXEC_KEYS`` records (one record per unit)."""
    records = list(records)
    return {k: statistics.median(r[k] for r in records) for k in EXEC_KEYS}


TAIL_LADDER = (99, 95, 90, 75, 50)
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest percentile in ``TAIL_LADDER`` with ``TAIL_MIN_BEYOND``
    samples above it.

    With nearest-rank percentiles the p-th percentile of ``n`` sorted
    samples is element ``ceil(n*p/100)``, leaving ``n - ceil(n*p/100)``
    samples beyond it. ``None`` when even the lowest rung has too few.
    """
    for p in TAIL_LADDER:
        if n - math.ceil(n * p / 100) >= TAIL_MIN_BEYOND:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * p / 100) - 1)]


def _local_path(uri: str) -> str:
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """File path → the file source's own log batch id, from the
    ``sources/0`` log of a single-source file-stream checkpoint.

    Reads both delta files (``<id>``) and compacted ones
    (``<id>.compact``, written every
    ``spark.sql.streaming.fileSource.log.compactInterval`` entries);
    every entry carries its own ``batchId``. The source numbers only
    batches that found new files, so these ids are not query batch ids
    (see :func:`file_batches`).
    """
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # line 0 is the log version ("v1")
            if line.strip():
                entry = json.loads(line)
                out[_local_path(entry["path"])] = int(entry["batchId"])
    return out


def source_offsets(checkpoint: str) -> dict[int, int]:
    """Query batch id → the file source's log offset it read up to, from
    the query's offset log (``offsets/<batchId>``: version line, batch
    metadata line, then the source's offset line)."""
    log_dir = os.path.join(checkpoint, "offsets")
    out: dict[int, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.isdigit():
            with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            out[int(name)] = int(json.loads(lines[2])["logOffset"])
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """File path → the query batch that read it: the first batch whose
    source offset reaches the file's source-log batch id."""
    offsets = sorted(source_offsets(checkpoint).items())
    out: dict[str, int] = {}
    for path, src_batch in source_log_batches(checkpoint).items():
        for batch, offset in offsets:
            if offset >= src_batch:
                out[path] = batch
                break
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id → wall-clock commit time (epoch s) from the commit log."""
    log_dir = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(log_dir, name)).st_mtime
    return out


def freshness(due: dict[str, float], checkpoint: str) -> dict[str, float | None]:
    """Per file: seconds from its due time until the query has committed
    the batch that read it (``None`` if it never committed it)."""
    batches, commits = file_batches(checkpoint), commit_times(checkpoint)
    out: dict[str, float | None] = {}
    for path, due_at in due.items():
        done = commits.get(batches.get(path))
        out[path] = None if done is None else done - due_at
    return out


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class RssSampler:
    """Peak RSS of this process tree: per-pid ``VmHWM``, summed over
    every pid seen alive in two consecutive samples (remembered after it
    exits). The two-sample rule skips fork-then-exec children (the JVM
    shells out for file permissions), whose ``VmHWM`` right after the
    fork counts the parent's whole resident set a second time."""

    INTERVAL_S = 0.5

    def __init__(self):
        self._hwm: dict[int, int] = {}
        self._prev: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        pids = set(tree_pids(os.getpid()))
        for pid in pids & (self._prev | {os.getpid()}):
            kb = _vm_hwm_kb(pid)
            if kb is not None and kb > self._hwm.get(pid, 0):
                self._hwm[pid] = kb
        self._prev = pids

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def start(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return sum(self._hwm.values()) / 1024.0
