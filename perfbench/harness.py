"""Shared run context: environment, Spark session, tracing hooks.

Everything the benchmark creates lives under ``<checkout>/.perfbench``
(inputs, checkpoints, event logs, Spark and Python temp files) and is
removed when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import os
import pkgutil
import random
import shlex
import shutil
import signal
import sys
import threading
import time
import types
from collections import defaultdict
from dataclasses import dataclass, field

from telemetry import EXEC_KEYS, tree_pids

# Batch workloads and the stream run at sf0.01 row counts: the engine's
# per-query and per-micro-batch costs are mostly fixed at this size, and
# a run (cold JVM, warm-up, measured window, checks) has to stay near a
# minute on a 4-core box.
SCALE = 0.01


@dataclass
class Context:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str = field(init=False)
    data_dir: str = field(init=False)
    event_log_dir: str = field(init=False)
    rng: random.Random = field(init=False)
    # Trace accounting: operator key -> [calls, inclusive seconds,
    # bookkeeping seconds], and the Python-side time spent in the benchmark's
    # own tracing hooks (added from the stream's callback and listener
    # threads too, hence the lock).
    op_stats: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0.0, 0.0]))
    hook_s: float = 0.0
    _hook_lock: threading.Lock = field(default_factory=threading.Lock)

    def add_hook_time(self, seconds: float) -> None:
        with self._hook_lock:
            self.hook_s += seconds

    def __post_init__(self):
        self.work = os.path.join(self.root, ".perfbench", f"run-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.event_log_dir = os.path.join(self.work, "eventlog")
        self.rng = random.Random(self.seed)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(ctx: Context) -> None:
    """Confine Spark, the JVM and Python temp files to the run dir and
    pin ``local[nproc]`` unless ``SPARK_GRAFT_CPUS`` is already set."""
    import tempfile

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(ctx.event_log_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    if not os.environ.get("SPARK_GRAFT_CPUS"):
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # Every JVM (spark-submit's launcher too) keeps its temp files in the
    # run dir and writes no hsperfdata, which ignores java.io.tmpdir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.sql.streaming.checkpointLocation": os.path.join(ctx.work, "ckpt-default")}
    if ctx.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.event_log_dir,
            # Spark 4 otherwise writes rolling zstd eventlog_v2_* dirs.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    if ctx.root not in sys.path:
        sys.path.insert(0, ctx.root)


def cleanup(ctx: Context) -> None:
    shutil.rmtree(ctx.work, ignore_errors=True)
    parent = os.path.dirname(ctx.work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def start_session():
    """A session from the engine's own ``session.get_spark``."""
    from flink_realtime_edu_spark.session import get_spark

    return get_spark(app_name="perfbench")


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM to exit (its
    Python workers exit with it). The JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def stop_descendants() -> None:
    """SIGTERM every process still running below this one, then SIGKILL
    what is left after 30 s, and wait until each has ended. After
    :func:`stop_jvm` there is none, unless a signal interrupted the JVM's
    launch before the gateway that would stop it existed."""
    pids = tree_pids(os.getpid())[1:]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        while pids and time.monotonic() < deadline:
            time.sleep(0.2)
            pids = [pid for pid in pids if _alive(pid)]
        if not pids:
            return


def _alive(pid: int) -> bool:
    """False once ``pid`` has exited; reaps it if it is a child of ours."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def wrap_operators(ctx: Context) -> None:
    """Count calls and inclusive wall time of every function defined in
    ``flink_realtime_edu_spark.operators.*``. Must run before the query
    registry is imported, because query modules bind operator functions
    by name at import time."""
    from flink_realtime_edu_spark import operators

    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in list(vars(mod).items()):
            if isinstance(fn, types.FunctionType) and fn.__module__ == mod.__name__:
                setattr(mod, name, _counting(ctx, f"operators.{info.name}.{name}", fn))


def _counting(ctx: Context, key: str, fn):
    # The closure holds only the function and a plain list: the engine
    # pickles some operator modules by value into Python workers, and a
    # wrapper shipped there must stay picklable (its counts stay there).
    stat = ctx.op_stats[key]

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stat[0] += 1
            stat[1] += t1 - t0
            stat[2] += time.perf_counter() - t1

    return wrapper


def set_job_group(ctx: Context, spark, group: str) -> None:
    if ctx.trace:
        t0 = time.perf_counter()
        spark.sparkContext.setJobGroup(group, group)
        ctx.add_hook_time(time.perf_counter() - t0)


def exec_layers(ex: dict) -> dict:
    """``exec.*`` / ``sources.*`` per-layer metrics from an EXEC_KEYS record."""
    scan = ("input_bytes", "input_records", "scan_tasks")
    out = {f"exec.{k}": ex[k] for k in EXEC_KEYS if k not in scan}
    out.update({f"sources.{k}": ex[k] for k in scan})
    return out


# Host CPU steal goes into every result's stamp: on the 4-core reference
# box, runs at 6-25 % steal were 15-50 % slower than quiet ones.
def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``."""
    with open("/proc/stat", encoding="utf-8") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_pct(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took since ``start``, in %."""
    steal, total = cpu_jiffies()
    return 100.0 * (steal - start[0]) / max(1, total - start[1])
