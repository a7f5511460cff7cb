"""Self-checks for the benchmark's own measurement code (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import telemetry

HERE = os.path.dirname(os.path.abspath(__file__))


def test_fold_event_log_groups_jobs_stages_and_tasks():
    """The fixture is an event log recorded at sf0.001 (pricing_summary
    then token_topk under job groups), trimmed to the fields the fold
    reads."""
    groups = telemetry.fold_event_log(os.path.join(HERE, "fixtures", "eventlog_sf0.001.jsonl"))
    assert set(groups) == {"q:pricing_summary", "q:token_topk"}
    p = groups["q:pricing_summary"]
    assert (p["jobs"], p["stages"], p["tasks"], p["scan_tasks"]) == (5, 5, 5, 1)
    assert (p["longest_stage_ms"], p["longest_stage_tasks"]) == (757, 1)
    assert (p["input_records"], p["input_bytes"]) == (6000, 5864)
    assert (p["shuffle_write_bytes"], p["shuffle_read_bytes"]) == (1956, 3105)
    assert p["executor_run_ms"] == 1289 and p["gc_ms"] == 12
    t = groups["q:token_topk"]
    assert (t["jobs"], t["stages"], t["input_records"]) == (3, 3, 500)


def test_sum_and_median_records_keep_the_longest_stage_with_its_tasks():
    a = dict.fromkeys(telemetry.EXEC_KEYS, 1)
    b = dict(a, longest_stage_ms=9, longest_stage_tasks=4)
    total = telemetry.sum_records([a, b])
    assert (total["jobs"], total["longest_stage_ms"], total["longest_stage_tasks"]) == (2, 9, 4)
    assert telemetry.median_record([a, b, b])["longest_stage_ms"] == 9


@pytest.mark.parametrize(
    "n, want",
    [(9, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert telemetry.tail_percentile(n) == want
    if want is not None:
        beyond = sum(1 for v in range(1, n + 1) if v > telemetry.percentile(range(1, n + 1), want))
        assert beyond >= 10


def _write_log(path: str, entries: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_freshness_from_a_synthetic_checkpoint(tmp_path):
    """The file source numbers its own log batches, and its batch 0 is
    compacted into ``1.compact``; the offset log maps query batches to
    source offsets, and query batch 1 is a no-data batch. A file's
    freshness is the commit time of the query batch that read it minus
    its due time; a file whose batch never committed has none."""
    files = [str(tmp_path / "ods" / f"part-{i}.parquet") for i in range(4)]
    ck = tmp_path / "ckpt"
    for sub in ("sources/0", "offsets", "commits"):
        (ck / sub).mkdir(parents=True)
    entries = {
        b: [{"path": "file://" + files[i], "timestamp": 0, "batchId": b} for i in idx]
        for b, idx in {0: [0], 1: [1, 2], 2: [3]}.items()
    }
    _write_log(str(ck / "sources" / "0" / "1.compact"), entries[0] + entries[1])
    _write_log(str(ck / "sources" / "0" / "2"), entries[2])
    for b, off in {0: 0, 1: 0, 2: 1, 3: 2}.items():
        _write_log(str(ck / "offsets" / str(b)), [{"batchWatermarkMs": 0}, {"logOffset": off}])
    for b, t in {0: 100.0, 1: 101.0, 2: 105.0}.items():
        (ck / "commits" / str(b)).write_text("v1\n{}\n")
        os.utime(ck / "commits" / str(b), (t, t))
    assert telemetry.source_log_batches(str(ck))[files[2]] == 1
    assert telemetry.file_batches(str(ck)) == {files[0]: 0, files[1]: 2, files[2]: 2, files[3]: 3}
    fresh = telemetry.freshness({f: 99.0 for f in files}, str(ck))
    assert fresh[files[0]] == pytest.approx(1.0)
    assert fresh[files[1]] == pytest.approx(6.0)
    assert fresh[files[2]] == pytest.approx(6.0)
    assert fresh[files[3]] is None  # query batch 3 never committed


def test_reported_units_match_benchmark_json():
    import run

    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    for metric in spec["end_to_end"] + spec["per_layer"]:
        assert run._unit(metric["name"]) == metric["unit"], metric["name"]


def test_compare_refuses_other_core_counts_and_unstamped_results(tmp_path, capsys):
    import compare

    stamp = {"workload": "ads_headline", "trace": False, "sf": 0.01, "nproc": 4,
             "SPARK_GRAFT_CPUS": "4", "pyspark": "4.1.2", "duckdb": "1.0.0"}
    result = {"correct": True, "attempted": 1, "failed": 0, "metrics": {"pass_s": {"value": 2.0, "unit": "s"}}}

    def save(name, st, res=result):
        path = tmp_path / name
        path.write_text((f"# stamp {json.dumps(st)}\n" if st else "") + json.dumps(res) + "\n")
        return str(path)

    base = save("base.txt", stamp)
    assert compare.main([base, save("same.txt", stamp)]) == 0
    assert compare.main([base, save("c32.txt", dict(stamp, nproc=32, SPARK_GRAFT_CPUS="32"))]) == 3
    assert compare.main([base, save("bench_r14.txt", None)]) == 3
    assert "refusing" in capsys.readouterr().err
