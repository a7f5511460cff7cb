#!/usr/bin/env python3
"""Compare two saved outputs of ``perfbench/run.py`` (its stdout).

    python3 perfbench/compare.py BASE.txt NEW.txt

Refuses (exit 3) unless both outputs carry an environment stamp with
the same workload, trace mode, scale, core count, ``SPARK_GRAFT_CPUS``
and library versions: readings from another box or another core count
(such as the repository's ``BENCH_r*.json``, taken on 32 cores and
carrying no stamp) are never compared with this benchmark's. Otherwise
prints, per metric, both values and NEW/BASE.
"""

from __future__ import annotations

import json
import sys

STAMP_KEYS = ("workload", "trace", "sf", "nproc", "SPARK_GRAFT_CPUS", "pyspark", "duckdb")


def read(path: str) -> tuple[dict | None, dict | None]:
    """(stamp, result) of one saved run output."""
    stamp = result = None
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("# stamp "):
                stamp = json.loads(line[len("# stamp "):])
            elif line.startswith("{"):
                result = json.loads(line)
    return stamp, result


def refusal(base: dict | None, new: dict | None) -> str | None:
    if base is None or new is None:
        return "an output carries no environment stamp"
    diff = [k for k in STAMP_KEYS if base.get(k) != new.get(k)]
    if diff:
        return "stamps differ in " + ", ".join(f"{k}: {base.get(k)} vs {new.get(k)}" for k in diff)
    return None


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (base_stamp, base), (new_stamp, new) = read(argv[0]), read(argv[1])
    reason = refusal(base_stamp, new_stamp)
    if reason is None and (base is None or new is None):
        reason = "an output has no result line"
    if reason:
        print(f"refusing to compare: {reason}", file=sys.stderr)
        return 3
    for name, m in base["metrics"].items():
        if name in new["metrics"]:
            b, n = m["value"], new["metrics"][name]["value"]
            ratio = f"{n / b:.3f}" if b else "n/a"
            print(f"{name:32s} {b:14.4f} {n:14.4f} {ratio:>7s} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
