"""Batch sink layouts (S4-S6): date partitioning with pruning, dim
snapshots, and read-back fidelity."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_realtime_edu_spark.sources import load
from flink_realtime_edu_spark.sources.sinks import (
    read_fact_partitioned,
    write_dim_snapshot,
    write_fact_partitioned,
)


def test_fact_partitioned_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "events_dt")
    write_fact_partitioned(ev, path)

    back = read_fact_partitioned(spark, path)
    assert back.count() == ev.count()

    one_day = back.filter(F.col("dt") == "2024-01-05")
    want = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert one_day.count() == want

    # Partition pruning must show up in the plan (no full-scan).
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan or "dt#" in plan.split(
        "PartitionFilters"
    )[1][:200]


def test_dim_snapshot_single_file(spark, sf_dir, tmp_path):
    nation = load(spark, sf_dir, "nation")
    path = tmp_path / "dim_nation"
    write_dim_snapshot(nation, str(path))
    files = list(path.glob("*.parquet"))
    assert len(files) == 1  # one footer fetch for broadcast readers
    back = spark.read.parquet(str(path))
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )


def test_training_shard_export_is_deterministic_and_balanced(spark, sf_dir, tmp_path):
    """Sharded training export: fixed shard count, hash-balanced,
    deterministically shuffled within shards, and bit-identical
    across re-runs (including a different input partitioning)."""
    from flink_realtime_edu_spark.sources.sinks import export_training_shards

    docs = load(spark, sf_dir, "documents")
    n = 8
    out1 = str(tmp_path / "run1")
    out2 = str(tmp_path / "run2")
    export_training_shards(docs, out1, n_shards=n, key_col="doc_id")
    export_training_shards(docs.repartition(13), out2, n_shards=n, key_col="doc_id")

    back = spark.read.parquet(out1)
    assert back.count() == docs.count()
    assert back.select("shard").distinct().count() == n
    sizes = {r.shard: r.n for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    mean = docs.count() / n
    assert all(0.5 * mean <= s <= 1.5 * mean for s in sizes.values())  # hash balance

    # per-shard ORDER must be identical across runs: read each shard
    # file in row order and compare doc_id sequences
    import glob

    def shard_orders(base):
        orders = {}
        for d in sorted(glob.glob(base + "/shard=*")):
            sdf = spark.read.parquet(d).select("doc_id")
            orders[d.rsplit("=", 1)[1]] = [r.doc_id for r in sdf.collect()]
        return orders

    o1, o2 = shard_orders(out1), shard_orders(out2)
    assert o1.keys() == o2.keys()
    for k in o1:
        assert o1[k] == o2[k]
        assert sorted(o1[k]) != o1[k]  # genuinely shuffled, not key-ordered


def test_bucketed_upsert_converges_and_rewrites_only_touched_buckets(spark, tmp_path):
    """T8/S5 scale layout: the hash-bucketed upsert must reach the
    exact same table state as the flat upsert, and a batch touching
    one key must leave every other bucket's files untouched on disk
    (the O(touched-buckets) property that replaces O(table) rewrites
    at warehouse scale)."""
    import os

    from flink_realtime_edu_spark.streaming.sinks import (
        BUCKET_COL,
        read_upsert_table,
        upsert_latest_by_key,
    )

    flat_dir = str(tmp_path / "flat")
    buck_dir = str(tmp_path / "bucketed")
    flat = upsert_latest_by_key(flat_dir, ["k"], "v")
    buck = upsert_latest_by_key(buck_dir, ["k"], "v", n_buckets=8)

    def batch(rows):
        return spark.createDataFrame(rows, "k long, v long, payload string")

    b0 = batch([(i, 1, f"p{i}") for i in range(32)])
    flat(b0, 0), buck(b0, 0)
    # upsert a newer version of one key + one brand-new key
    b1 = batch([(7, 5, "p7-new"), (100, 1, "p100")])

    def mtimes(d):
        out = {}
        for root, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = mtimes(buck_dir)
    flat(b1, 1), buck(b1, 1)
    after = mtimes(buck_dir)

    def rows(df):
        return sorted(map(repr, (tuple(r) for r in df.select("k", "v", "payload").collect())))

    got_flat = rows(spark.read.parquet(flat_dir))
    got_buck = rows(read_upsert_table(spark, buck_dir))
    assert got_buck == got_flat
    # version 5 won for key 7; new key landed
    assert any("p7-new" in r for r in got_buck) and any("p100" in r for r in got_buck)
    assert not any("'p7')" in r for r in got_buck)

    # untouched buckets' files survive byte-identical (same path+mtime)
    touched = {
        r[0]
        for r in spark.createDataFrame([(7,), (100,)], "k long")
        .select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("b"))
        .collect()
    }
    untouched_before = {p: t for p, t in before.items() if not any(f"{BUCKET_COL}={b}/" in p or p.endswith(f"{BUCKET_COL}={b}") for b in touched)}
    for p, t in untouched_before.items():
        assert p in after and after[p] == t, f"untouched bucket file rewritten: {p}"
    # and the touched buckets did change
    assert any(p not in before or after[p] != before[p] for p in after)


def test_bucketed_upsert_writes_one_file_per_touched_bucket(spark, tmp_path):
    """Driven as the stream drives it — foreachBatch behind a keyed
    streaming aggregate, whose frames arrive spread over the session's
    shuffle partitions — every micro-batch rewrites each bucket it
    touches as exactly ONE parquet file, including a bucket that an
    older layout left holding several files, and the table stays the
    latest version per key."""
    from flink_realtime_edu_spark.streaming.sinks import (
        BUCKET_COL,
        check_bucket_layout,
        key_bucket_col,
        read_upsert_table,
        run_to_completion,
        upsert_latest_by_key,
    )

    n_buckets = 4
    src, target = tmp_path / "src", tmp_path / "store"
    ckpt = str(tmp_path / "ckpt")

    def bucket_of(keys):
        frame = spark.createDataFrame([(k,) for k in keys], "k long")
        return {r[0]: r[1] for r in frame.select("k", key_bucket_col(["k"], n_buckets)).collect()}

    # The old layout: one bucket already split over three files, each
    # holding an older version of a key the stream will update.
    buckets = bucket_of(range(40))
    crowded = buckets[0]
    old_rows = [(k, 0) for k in range(40) if buckets[k] == crowded][:3]
    check_bucket_layout(str(target), n_buckets)
    for row in old_rows:
        (
            spark.createDataFrame([row], "k long, v long")
            .withColumn(BUCKET_COL, key_bucket_col(["k"], n_buckets))
            .write.mode("append").partitionBy(BUCKET_COL).parquet(str(target))
        )
    assert len(list((target / f"{BUCKET_COL}={crowded}").glob("*.parquet"))) == 3
    latest = dict(old_rows)

    batches = [
        [(k, 1 + k % 3) for k in range(40)],
        [(k, 10) for k in range(0, 60, 4)] + [(k, 0) for k in range(1, 40, 5)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k long, v long").write.parquet(str(src / f"part-{i}"))
        agg = (
            spark.readStream.schema("k long, v long")
            .parquet(str(src / f"part-{i}"))
            .groupBy("k")
            .agg(F.max("v").alias("v"))
        )
        run_to_completion(
            agg.writeStream.outputMode("update")
            .foreachBatch(upsert_latest_by_key(str(target), ["k"], "v", n_buckets=n_buckets))
            .option("checkpointLocation", f"{ckpt}-{i}")
            .start()
        )
        for k, v in rows:
            latest[k] = max(v, latest.get(k, v))
        touched = set(bucket_of([k for k, _ in rows]).values())
        assert crowded in touched
        for b in touched:
            files = list((target / f"{BUCKET_COL}={b}").glob("*.parquet"))
            assert len(files) == 1, f"batch {i}: bucket {b} holds {len(files)} files"
        got = {r.k: r.v for r in read_upsert_table(spark, str(target)).collect()}
        assert got == latest, f"batch {i}: table is not latest-per-key"


def test_bucket_layout_metadata_rejects_mismatched_restart(spark, tmp_path):
    """ADVICE r3: n_buckets is persisted in a _n_buckets metadata file
    on first write; a writer restarted with a different bucket count
    must be REFUSED (silently mixing layouts loses prior versions of
    a key), while a matching restart proceeds."""
    import pytest as _pytest

    from flink_realtime_edu_spark.streaming.sinks import upsert_latest_by_key

    target = str(tmp_path / "bucketed_upsert")
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k long, v long, s string"
    )
    upsert_latest_by_key(target, ["k"], "v", n_buckets=8)(batch, 0)
    # matching restart: fine
    upsert_latest_by_key(target, ["k"], "v", n_buckets=8)(batch, 1)
    # mismatched restart: refused before any write
    with _pytest.raises(ValueError, match="n_buckets=8"):
        upsert_latest_by_key(target, ["k"], "v", n_buckets=4)(batch, 2)


def test_bucket_layout_empty_store_is_reinitializable(spark, tmp_path):
    """A store holding only the metadata file (first write crashed
    after check_bucket_layout, before any data landed) must accept a
    restart with a DIFFERENT n_buckets — there is no layout to mix —
    and record the new count."""
    from flink_realtime_edu_spark.streaming.sinks import (
        N_BUCKETS_META,
        check_bucket_layout,
        upsert_latest_by_key,
    )

    target = tmp_path / "crashed_empty_store"
    check_bucket_layout(str(target), 8)  # simulated crash right after
    assert (target / N_BUCKETS_META).read_text() == "8"
    batch = spark.createDataFrame([(1, 10, "a")], "k long, v long, s string")
    upsert_latest_by_key(str(target), ["k"], "v", n_buckets=4)(batch, 0)
    assert (target / N_BUCKETS_META).read_text() == "4"


def test_compact_changelog_crash_leftovers_are_dedup_safe(spark, sf_dir, tmp_path):
    """ADVICE r3 (medium): compaction stages to a tmp dir and moves
    files in, so any crash leaves the live changelog complete — at
    worst with DUPLICATE files, which readers dedup away and the next
    compaction removes. Simulate the worst crash window (new file
    moved in, old files not yet deleted) by copying a bucket file,
    then assert the interval recompute is unchanged and a compaction
    run heals the layout."""
    import shutil
    from pathlib import Path

    from flink_realtime_edu_spark.queries.temporal import state_intervals
    from flink_realtime_edu_spark.streaming.scd2 import (
        CHANGELOG_SUBDIR,
        compact_changelog,
        maintain_scd2_dim,
        read_scd2_intervals,
    )

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") != "purchase")
    store = str(tmp_path / "scd2_crash_store")
    write = maintain_scd2_dim(store, n_buckets=4)
    write(ev, 0)

    want = _rows_sorted(read_scd2_intervals(spark, store))

    # crash simulation: duplicate one bucket file (old+new coexist)
    cdir = Path(store) / CHANGELOG_SUBDIR
    bucket = next(d for d in cdir.glob("__bucket=*") if list(d.glob("*.parquet")))
    src_file = next(iter(bucket.glob("*.parquet")))
    shutil.copy(src_file, bucket / ("dup-" + src_file.name))

    # recompute over the damaged layout (another batch on same keys)
    write(ev.limit(0).unionByName(ev.limit(1)), 1)
    assert _rows_sorted(read_scd2_intervals(spark, store)) == want

    # compaction heals: one file per bucket, content unchanged
    compact_changelog(spark, store)
    assert all(
        len(list(d.glob("*.parquet"))) == 1 for d in cdir.glob("__bucket=*")
    )
    write(ev.limit(1), 2)
    assert _rows_sorted(read_scd2_intervals(spark, store)) == want


def _rows_sorted(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_write_clustered_prunes_partitions_and_row_groups(spark, sf_dir, tmp_path):
    """The clustered fact layout must deliver BOTH pruning levers:
    (a) a dt filter lists only matching partition dirs (PartitionFilters
    — verified via inputFiles), and (b) within each file the cluster
    column is sorted so parquet row-group [min,max] windows are
    non-overlapping — the property that makes min/max stats skip
    row groups on a user_id point lookup. Values must round-trip
    exactly vs the source."""
    import pyarrow.parquet as pq

    from flink_realtime_edu_spark.sources.sinks import write_clustered

    ev = load(spark, sf_dir, "events")
    target = str(tmp_path / "events_clustered")
    write_clustered(ev, target, cluster_cols=["user_id"])

    back = spark.read.parquet(target)
    assert back.count() == ev.count()
    # (a) partition pruning: a one-day filter prunes at the dir level
    # (inputFiles() ignores partition filters, so check the plan)
    days = sorted(str(r.dt) for r in back.select("dt").distinct().collect())
    one_day = back.filter(F.col("dt") == days[0])
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and days[0] in plan.split("PartitionFilters")[1][:300]
    # (b) row-group clustering: within every file, user_id row-group
    # ranges are sorted and non-overlapping
    files = [f.removeprefix("file:") for f in back.inputFiles()]
    for path in files:
        pf = pq.ParquetFile(path)
        meta = pf.metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}[
            "user_id"
        ]
        ranges = [
            (
                meta.row_group(g).column(idx).statistics.min,
                meta.row_group(g).column(idx).statistics.max,
            )
            for g in range(meta.num_row_groups)
        ]
        assert all(lo <= hi for lo, hi in ranges)
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"overlapping row groups in {path}"
        # At test scale files may hold a single row group, which makes
        # the disjointness above vacuous — assert the property that
        # produces it directly: user_id is sorted WITHIN the file, so
        # any row-group cut yields narrow disjoint [min,max] windows.
        ids = pf.read(columns=["user_id"])["user_id"].to_pylist()
        assert ids == sorted(ids), f"user_id not clustered in {path}"
    # values survive the layout unchanged
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert sorted(map(tuple, back.select(*cols).collect())) == sorted(
        map(tuple, ev.select(*cols).collect())
    )


def test_txn_write_atomic_visibility_and_replay(spark, tmp_path):
    """Exactly-once sink protocol: uncommitted data dirs are invisible
    (crash mid-write leaves no partial results), the commit rename
    flips visibility atomically, and replaying a committed txn_id is
    a no-op — at-least-once retries yield exactly-once table state.
    Also exercises the write_fn override with the clustered layout."""
    from flink_realtime_edu_spark.sources.sinks import (
        txn_committed,
        txn_read,
        txn_write,
        write_clustered,
    )

    table = str(tmp_path / "txn_table")
    a = spark.range(0, 10).withColumn("v", F.col("id") * 2)
    b = spark.range(10, 15).withColumn("v", F.col("id") * 2)

    assert txn_read(spark, table) is None
    assert txn_write(a, table, "txn-a") is True
    assert txn_committed(table) == ["txn-a"]
    assert txn_read(spark, table).count() == 10

    # Simulate a crash mid-write for txn-b: data files land but the
    # commit entry is never published → reader still sees only txn-a.
    crash_dir = tmp_path / "txn_table" / "data" / "txn=txn-b"
    b.write.mode("overwrite").parquet(str(crash_dir))
    assert txn_committed(table) == ["txn-a"]
    assert txn_read(spark, table).count() == 10

    # Replay txn-b properly: overwrites the orphaned attempt, commits.
    assert txn_write(b, table, "txn-b") is True
    assert txn_committed(table) == ["txn-a", "txn-b"]
    assert txn_read(spark, table).count() == 15

    # Replaying an already-committed txn is a no-op (idempotent).
    assert txn_write(b, table, "txn-b") is False
    assert txn_read(spark, table).count() == 15
    assert sorted(r.id for r in txn_read(spark, table).collect()) == list(range(15))

    # Time travel: as_of seq 0 = the table before txn-b existed.
    assert txn_read(spark, table, as_of=0).count() == 10
    assert txn_read(spark, table, as_of=1).count() == 15

    # Clustered physical layout through the same protocol — its own
    # table: all txns of one table must share one layout/schema.
    table2 = str(tmp_path / "txn_table_clustered")
    ev = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3} 0{i % 9}:00:00") for i in range(30)],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    assert txn_write(
        ev,
        table2,
        "txn-c",
        write_fn=lambda df, d: write_clustered(df, d, cluster_cols=["user_id"]),
    )
    assert txn_read(spark, table2).count() == 30


def test_txn_log_is_robust_to_suffix_ids_and_staging_leftovers(spark, tmp_path):
    """Two commit-log pitfalls a glob-based listing gets wrong:

    1. a txn whose id is a dash-suffix of a committed one ('a' after
       'txn-a') must still commit — suffix matching would silently
       skip it (data loss while the caller believes it committed);
    2. a crash between staging write_text and the publishing rename
       leaves `.tmp-<id>.json` in the log — it must be invisible to
       txn_committed/txn_read/seq numbering, and a retry of that txn
       must still publish (pathlib's glob matches dotfiles, so a
       naive `*.json` listing would count it as committed)."""
    import json

    from flink_realtime_edu_spark.sources.sinks import (
        txn_committed,
        txn_read,
        txn_write,
    )

    table = str(tmp_path / "txn_suffix")
    a = spark.range(0, 10)
    assert txn_write(a, table, "txn-a") is True

    # (1) 'a' is a dash-suffix of 'txn-a' — must be a NEW transaction.
    assert txn_write(spark.range(10, 14), table, "a") is True
    assert txn_committed(table) == ["txn-a", "a"]
    assert txn_read(spark, table).count() == 14

    # (2) crash after staging, before the atomic rename.
    log = tmp_path / "txn_suffix" / "_commitlog"
    stale = log / ".tmp-txn-crashed.json"
    stale.write_text(json.dumps({"txn_id": "txn-crashed", "seq": 99, "files": []}))
    assert txn_committed(table) == ["txn-a", "a"]  # staging file invisible
    assert txn_read(spark, table).count() == 14
    # The crashed txn retries and still publishes, with the next seq
    # (not one inflated by the staging leftover).
    assert txn_write(spark.range(14, 16), table, "txn-crashed") is True
    assert txn_committed(table) == ["txn-a", "a", "txn-crashed"]
    entries = sorted(p.name for p in log.iterdir() if not p.name.startswith("."))
    assert entries[-1] == "0000000002.json"
    # Time travel ordering unaffected by the stale staging file.
    assert txn_read(spark, table, as_of=1).count() == 14


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-order pruning quality, measured from parquet footers: with
    files covering compact (a, b) rectangles, a point predicate on
    EITHER column must be prunable to a minority of files — while the
    1-D sorted layout can only prune its leading column (every file
    spans the full range of the second). Uses a deterministic 2-D
    uniform grid so the geometry is exact."""
    import pyarrow.parquet as pq

    from flink_realtime_edu_spark.sources.sinks import write_zordered

    n, n_files = 64_000, 16
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit("b")), F.lit(1000)).alias("b"),
        F.col("id").alias("payload"),
    )
    zpath = tmp_path / "zorder"
    spath = tmp_path / "sorted1d"
    write_zordered(df, str(zpath), "a", "b", n_files=n_files)
    (
        df.repartitionByRange(n_files, "a", "b")
        .sortWithinPartitions("a", "b")
        .write.mode("overwrite")
        .parquet(str(spath))
    )

    def stats(path, col):
        out = []
        for f in sorted(path.glob("*.parquet")):
            md = pq.read_metadata(f)
            lo = min(
                md.row_group(i).column(
                    md.schema.names.index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    md.schema.names.index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return out

    def files_containing(path, col, v):
        return sum(1 for lo, hi in stats(path, col) if lo <= v <= hi)

    # Point predicates on each column at a few probe values.
    # Per-probe bound carries +2 slack (repartitionByRange samples
    # boundaries with an RDD-id-derived seed, so cut points jitter by
    # a file with session history; observed 9/16 once in a full-suite
    # run), but the MEAN across probes must be a true minority —
    # jitter moves one probe, not all of them — vs 14+ of 16 for the
    # 1-D layout's trailing column below.
    probes = (100, 500, 900)
    for col in ("a", "b"):
        hits = [files_containing(zpath, col, v) for v in probes]
        assert all(h <= n_files // 2 + 2 for h in hits), (col, hits)
        assert sum(hits) <= len(probes) * n_files // 2, (col, hits)
    for v in probes:
        # the 1-D layout prunes its leading column...
        assert files_containing(spath, "a", v) <= n_files // 2 + 2
    # ...but NOT the second column: nearly every 1-D file spans b.
    assert files_containing(spath, "b", 500) >= n_files - 2
    # and the data survives the round trip
    assert spark.read.parquet(str(zpath)).count() == n


def test_zorder_write_handles_empty_input(spark, tmp_path):
    """An empty (or all-null-key) frame must still materialize an
    empty table — plain parquet does, so the clustered layout cannot
    crash on the min/max probe returning NULLs."""
    from flink_realtime_edu_spark.sources.sinks import write_zordered

    empty = spark.range(0).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    path = str(tmp_path / "z_empty")
    write_zordered(empty, path, "a", "b", n_files=4)
    assert spark.read.parquet(path).count() == 0


def test_txn_checkpoint_compaction_and_vacuum(spark, tmp_path):
    """Delta-style checkpoint lifecycle on the commit log: compaction
    collapses every commit at head into one dir without changing what
    readers see; later commits stack on top; vacuum reclaims the
    superseded commits while (a) replaying a vacuumed txn_id is still
    a no-op (the checkpoint manifest carries absorbed ids) and
    (b) time travel below the checkpoint fails loudly instead of
    returning a partial table."""
    import pytest as _pytest

    from flink_realtime_edu_spark.sources.sinks import (
        txn_commit_dirs_scanned,
        txn_committed,
        txn_compact,
        txn_read,
        txn_vacuum,
        txn_write,
    )

    table = str(tmp_path / "txn_cp")
    for i in range(4):
        assert txn_write(spark.range(i * 10, (i + 1) * 10), table, f"t{i}")

    before = sorted(r.id for r in txn_read(spark, table).collect())
    assert txn_compact(spark, table, n_files=1) is True
    assert txn_compact(spark, table, n_files=1) is False  # idempotent at head
    # same table state, via 1 compacted dir instead of 4 commit dirs
    assert sorted(r.id for r in txn_read(spark, table).collect()) == before
    assert txn_commit_dirs_scanned(table) == 1

    # commits after the checkpoint stack on top (and get fresh seqs)
    assert txn_write(spark.range(40, 45), table, "t4")
    assert sorted(r.id for r in txn_read(spark, table).collect()) == list(range(45))
    assert txn_commit_dirs_scanned(table) == 2
    # pre-vacuum: all history still time-travels
    assert txn_read(spark, table, as_of=1).count() == 20

    # default retention keeps one checkpoint generation of slack for
    # concurrent readers — with a single checkpoint nothing is old
    # enough; keep_generations=0 is the no-live-readers fast path
    assert txn_vacuum(table) == 0
    reclaimed = txn_vacuum(table, keep_generations=0)
    assert reclaimed == 4
    # full ids survive in order; head reads unchanged; replay still no-op
    assert txn_committed(table) == ["t0", "t1", "t2", "t3", "t4"]
    assert sorted(r.id for r in txn_read(spark, table).collect()) == list(range(45))
    assert txn_write(spark.range(99), table, "t2") is False  # vacuumed id
    # seq numbering keeps advancing past the vacuumed range
    assert txn_write(spark.range(45, 50), table, "t5") is True
    assert sorted(r.id for r in txn_read(spark, table).collect()) == list(range(50))
    # time travel: at/after the checkpoint fine, below it raises
    assert txn_read(spark, table, as_of=3).count() == 40
    assert txn_read(spark, table, as_of=4).count() == 45
    with _pytest.raises(ValueError, match="vacuumed"):
        txn_read(spark, table, as_of=1)


def test_txn_read_rejects_as_of_beyond_head(spark, tmp_path):
    """Time travel to a version beyond the current head is a caller
    error (stale/typo'd seq) and must raise like Delta does — not
    silently clamp to the head snapshot and hand back plausible but
    wrong data."""
    import pytest as _pytest

    from flink_realtime_edu_spark.sources.sinks import txn_read, txn_write

    table = str(tmp_path / "txn_beyond")
    txn_write(spark.range(10), table, "t0")
    txn_write(spark.range(10, 20), table, "t1")
    assert txn_read(spark, table, as_of=1).count() == 20
    with _pytest.raises(ValueError, match="beyond the table head"):
        txn_read(spark, table, as_of=2)


def test_txn_vacuum_reclaims_orphans_of_crashed_vacuum(spark, tmp_path):
    """A vacuum that crashed between its entry-deletion and
    dir-deletion phases leaves txn=<id> data dirs with no live log
    entry; a LATER vacuum cannot recompute them as doomed (the
    entries are gone), so its orphan sweep must reclaim any txn dir
    absorbed in a surviving checkpoint that has no live entry — while
    leaving an in-flight commit's dir (no entry, not absorbed)
    strictly alone."""
    from flink_realtime_edu_spark.sources.sinks import (
        txn_compact,
        txn_read,
        txn_vacuum,
        txn_write,
    )

    table = str(tmp_path / "txn_orphan")
    for i in range(3):
        txn_write(spark.range(i * 10, (i + 1) * 10), table, f"t{i}")
    assert txn_compact(spark, table, n_files=1)  # cp at seq 2 absorbs t0-t2
    txn_write(spark.range(30, 40), table, "t3")

    # Simulate the crashed vacuum: absorbed entries deleted, dirs kept.
    log = tmp_path / "txn_orphan" / "_commitlog"
    for p in list(log.iterdir()):
        if p.name.endswith(".json") and not p.name.endswith(".checkpoint.json"):
            if int(p.name.split(".")[0]) <= 2:
                p.unlink()
    data = tmp_path / "txn_orphan" / "data"
    leaked = {f"txn=t{i}" for i in range(3)}
    assert leaked <= {d.name for d in data.iterdir()}

    # An unpublished (in-flight/crashed) commit dir must survive.
    inflight = data / "txn=wip"
    inflight.mkdir()
    (inflight / "part-0.parquet").write_bytes(b"")

    # keep_generations=1 with a single checkpoint reclaims nothing —
    # but the orphan sweep still runs and must pick up the leak.
    assert txn_vacuum(table) == 0
    names = {d.name for d in data.iterdir()}
    assert not (leaked & names), f"leaked dirs not reclaimed: {leaked & names}"
    assert "txn=wip" in names
    # Table state is unharmed.
    assert sorted(r.id for r in txn_read(spark, table).collect()) == list(
        range(40)
    )


def test_txn_read_refuses_partial_snapshots_after_interrupted_vacuum(
    spark, tmp_path
):
    """Crash-mid-vacuum discipline: with two checkpoints and the
    commits between them deleted but the OLDER checkpoint manifest
    still present (the worst interleaving), a time travel into the
    gap must raise — never silently serve the older checkpoint as if
    it were the requested snapshot."""
    import json

    import pytest as _pytest

    from flink_realtime_edu_spark.sources.sinks import (
        txn_compact,
        txn_read,
        txn_write,
    )

    table = str(tmp_path / "txn_gap")
    for i in range(3):
        txn_write(spark.range(i * 10, (i + 1) * 10), table, f"t{i}")
    assert txn_compact(spark, table, n_files=1)  # cp at seq 2
    for i in range(3, 6):
        txn_write(spark.range(i * 10, (i + 1) * 10), table, f"t{i}")
    assert txn_compact(spark, table, n_files=1)  # cp at seq 5

    # simulate the crash: entries <= 5 deleted, older cp manifest kept
    log = tmp_path / "txn_gap" / "_commitlog"
    for p in list(log.iterdir()):
        if p.name.endswith(".json") and not p.name.endswith(".checkpoint.json"):
            seq = int(p.name.split(".")[0])
            if seq <= 5:
                p.unlink()
    assert any(p.name == "0000000002.checkpoint.json" for p in log.iterdir())

    # head still reads via the latest checkpoint
    assert txn_read(spark, table).count() == 60
    # the gap between the checkpoints must fail loudly
    with _pytest.raises(ValueError, match="vacuumed"):
        txn_read(spark, table, as_of=4)
    # at the older checkpoint exactly is still reproducible
    assert txn_read(spark, table, as_of=2).count() == 30


def test_txn_concurrent_committers_serialize_without_loss(spark, tmp_path):
    """Optimistic concurrency on the commit log: 8 threads committing
    DIFFERENT transactions at once must all publish exactly once,
    with contiguous seqs and no lost or duplicated rows — the seq
    race resolves through the atomic create-if-absent link, not a
    coordinator."""
    from concurrent.futures import ThreadPoolExecutor

    from flink_realtime_edu_spark.sources.sinks import (
        txn_commit_dirs_scanned,
        txn_committed,
        txn_read,
        txn_write,
    )

    table = str(tmp_path / "txn_conc")
    n = 8

    def commit(i: int) -> bool:
        return txn_write(
            spark.range(i * 100, (i + 1) * 100), table, f"writer-{i}"
        )

    with ThreadPoolExecutor(max_workers=n) as pool:
        results = list(pool.map(commit, range(n)))
    assert results == [True] * n  # every writer published its txn

    assert sorted(txn_committed(table)) == sorted(f"writer-{i}" for i in range(n))
    # contiguity is the actual CAS property: seqs must be EXACTLY
    # 0..n-1 with no duplicates (len-based counts can't see a dup)
    from flink_realtime_edu_spark.sources.sinks import _txn_entries

    log = tmp_path / "txn_conc" / "_commitlog"
    assert sorted(s for s, _, _ in _txn_entries(log)) == list(range(n))
    assert txn_commit_dirs_scanned(table) == n
    got = sorted(r.id for r in txn_read(spark, table).collect())
    assert got == list(range(n * 100))
    # replays after the storm are still no-ops
    assert txn_write(spark.range(5), table, "writer-3") is False


def test_txn_mixed_commit_compact_read_storm(spark, tmp_path):
    """Snapshot isolation under a mixed storm: committers, a
    compact+vacuum loop, and readers all race on one table. Readers
    must only ever observe WHOLE transactions (row counts that are
    multiples of the txn size — never a partially visible commit or a
    half-compacted dir), nothing may crash, and the final state holds
    exactly every committed row with all ids recorded in order."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from flink_realtime_edu_spark.sources.sinks import (
        txn_committed,
        txn_compact,
        txn_read,
        txn_vacuum,
        txn_write,
    )

    table = str(tmp_path / "txn_storm")
    rows_per_txn, n_writers, txns_each = 100, 2, 4
    stop = threading.Event()
    errors = []

    def committer(w: int) -> None:
        try:
            for j in range(txns_each):
                base = (w * txns_each + j) * rows_per_txn
                assert txn_write(
                    spark.range(base, base + rows_per_txn), table, f"w{w}-t{j}"
                )
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(("committer", w, e))

    def maintainer() -> None:
        try:
            while not stop.is_set():
                txn_compact(spark, table, n_files=1)
                txn_vacuum(table)
        except Exception as e:  # noqa: BLE001
            errors.append(("maintainer", 0, e))

    def reader() -> None:
        try:
            while not stop.is_set():
                df = txn_read(spark, table)
                if df is not None:
                    n = df.count()
                    assert n % rows_per_txn == 0, f"partial snapshot: {n}"
        except Exception as e:  # noqa: BLE001
            errors.append(("reader", 0, e))

    with ThreadPoolExecutor(max_workers=n_writers + 2) as pool:
        futs = [pool.submit(committer, w) for w in range(n_writers)]
        pool.submit(maintainer)
        pool.submit(reader)
        try:
            for f in futs:
                f.result(timeout=300)
        finally:
            # always release the maintainer/reader loops — a committer
            # timeout must fail the test, not hang pool shutdown
            stop.set()
    assert not errors, errors

    total = n_writers * txns_each
    assert sorted(txn_committed(table)) == sorted(
        f"w{w}-t{j}" for w in range(n_writers) for j in range(txns_each)
    )
    got = sorted(r.id for r in txn_read(spark, table).collect())
    assert got == list(range(total * rows_per_txn))
    # replay after the storm + maintenance is still a no-op
    assert txn_write(spark.range(5), table, "w0-t0") is False


def test_txn_log_fails_loudly_on_legacy_layout_and_corrupt_manifests(
    spark, tmp_path
):
    """A damaged or pre-CAS-format commit log must never be silently
    narrowed: the pre-CAS '<seq>-<txn_id>.json' layout raises a
    migration error (silently reading it as empty would re-admit
    committed txn ids), and a truncated manifest raises 'corrupt'
    instead of being skipped (skipping would also defeat replay
    protection for its txn)."""
    import pytest as _pytest

    from flink_realtime_edu_spark.sources.sinks import (
        txn_committed,
        txn_read,
        txn_write,
    )

    legacy = str(tmp_path / "txn_legacy")
    txn_write(spark.range(10), legacy, "t0")
    log = tmp_path / "txn_legacy" / "_commitlog"
    (log / "0000000000.json").rename(log / "0000000000-t0.json")
    with _pytest.raises(ValueError, match="pre-CAS"):
        txn_committed(legacy)
    with _pytest.raises(ValueError, match="pre-CAS"):
        txn_write(spark.range(5), legacy, "t0")  # no silent re-commit

    broken = str(tmp_path / "txn_broken")
    txn_write(spark.range(10), broken, "t0")
    log2 = tmp_path / "txn_broken" / "_commitlog"
    (log2 / "0000000000.json").write_text('{"txn_id": "t0", "seq"')
    with _pytest.raises(ValueError, match="corrupt"):
        txn_read(spark, broken)


def test_txn_crashed_vacuum_storm_with_retention_boundary_reads(
    spark, tmp_path
):
    """The full retention contract in ONE adversarial scenario
    (VERDICT r6 item 8): a table carrying a CRASHED vacuum's orphan
    dirs enters a storm of concurrent committers, a compact+vacuum
    maintainer, and time-travel readers probing the retention
    boundary. Invariants: boundary reads either reproduce their
    snapshot EXACTLY or raise the loud 'vacuumed' error — and once a
    seq reports vacuumed it never flaps back to readable; beyond-head
    reads always raise; head reads only ever see whole transactions;
    the crashed vacuum's orphans are reclaimed by the storm's
    vacuums; no committed row is lost and replay stays a no-op."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import pytest as _pytest

    from flink_realtime_edu_spark.sources.sinks import (
        txn_committed,
        txn_compact,
        txn_read,
        txn_vacuum,
        txn_write,
    )

    table = str(tmp_path / "txn_boundary_storm")
    rows = 50
    # Seed: 4 txns -> checkpoint at seq 3; 1 txn -> checkpoint at seq 4.
    for i in range(4):
        assert txn_write(
            spark.range(i * rows, (i + 1) * rows), table, f"seed-{i}"
        )
    assert txn_compact(spark, table, n_files=1)  # cp @ seq 3
    assert txn_write(spark.range(4 * rows, 5 * rows), table, "seed-4")
    assert txn_compact(spark, table, n_files=1)  # cp @ seq 4

    # Crashed vacuum: absorbed entries (seq <= 3) deleted, dirs kept.
    log = tmp_path / "txn_boundary_storm" / "_commitlog"
    for p in list(log.iterdir()):
        if p.name.endswith(".json") and not p.name.endswith(".checkpoint.json"):
            if int(p.name.split(".")[0]) <= 3:
                p.unlink()
    data = tmp_path / "txn_boundary_storm" / "data"
    orphans = {f"txn=seed-{i}" for i in range(4)}
    assert orphans <= {d.name for d in data.iterdir()}

    # Boundary snapshots as they stand entering the storm.
    boundaries = {3: 4 * rows, 4: 5 * rows}
    for seq, n in boundaries.items():
        assert txn_read(spark, table, as_of=seq).count() == n

    stop = threading.Event()
    errors: list = []
    vacuumed_seen: dict[int, bool] = {3: False, 4: False}

    def committer(w: int) -> None:
        try:
            for j in range(3):
                base = (5 + w * 3 + j) * rows
                assert txn_write(
                    spark.range(base, base + rows), table, f"w{w}-t{j}"
                )
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(("committer", w, e))

    def maintainer() -> None:
        try:
            while not stop.is_set():
                txn_compact(spark, table, n_files=1)
                txn_vacuum(table)  # keep_generations=1 default
        except Exception as e:  # noqa: BLE001
            errors.append(("maintainer", 0, e))

    def boundary_reader() -> None:
        try:
            while not stop.is_set():
                for seq, n in boundaries.items():
                    try:
                        got = txn_read(spark, table, as_of=seq).count()
                        assert got == n, f"as_of={seq}: {got} != {n}"
                        assert not vacuumed_seen[seq], (
                            f"as_of={seq} readable again after vacuumed"
                        )
                    except ValueError as e:
                        assert "vacuumed" in str(e), e
                        vacuumed_seen[seq] = True
                with _pytest.raises(ValueError, match="beyond the table head"):
                    txn_read(spark, table, as_of=10_000)
        except Exception as e:  # noqa: BLE001
            errors.append(("boundary_reader", 0, e))

    def head_reader() -> None:
        try:
            while not stop.is_set():
                df = txn_read(spark, table)
                if df is not None:
                    n = df.count()
                    assert n % rows == 0, f"partial snapshot: {n}"
        except Exception as e:  # noqa: BLE001
            errors.append(("head_reader", 0, e))

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = [pool.submit(committer, w) for w in range(2)]
        pool.submit(maintainer)
        pool.submit(boundary_reader)
        pool.submit(head_reader)
        try:
            for f in futs:
                f.result(timeout=300)
        finally:
            stop.set()
    assert not errors, errors

    # The crashed vacuum's orphan dirs were reclaimed by the storm.
    assert not (orphans & {d.name for d in data.iterdir()})
    # No committed row lost; absorbed ids survive in the manifests.
    got = sorted(r.id for r in txn_read(spark, table).collect())
    assert got == list(range(11 * rows))
    committed = set(txn_committed(table))
    assert {f"seed-{i}" for i in range(5)} <= committed
    assert {f"w{w}-t{j}" for w in range(2) for j in range(3)} <= committed
    # Replaying an absorbed-and-vacuumed txn id is still a no-op.
    assert txn_write(spark.range(5), table, "seed-0") is False
