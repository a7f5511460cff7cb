"""Streaming sinks — SURVEY.md §2.1 S5/S6, §2.9 T8/T9.

The reference writes DWS rows to ClickHouse ReplacingMergeTree,
which dedups to the latest row per key at merge time [R]. The Spark
equivalent is a `foreachBatch` idempotent upsert: each micro-batch
merges into the target keeping the max-version row per key. The
merge is re-runnable, so micro-batch replays (at-least-once
delivery) still yield exactly-once TABLE STATE — the same effect
the reference gets from merge-time dedup.

Output modes (T9): append = finalized results only (requires
watermark for aggs), update = changed keys each batch, complete =
full result each batch. Tests exercise all three.
"""

from __future__ import annotations

import contextlib
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


BUCKET_COL = "__bucket"
N_BUCKETS_META = "_n_buckets"


def check_bucket_layout(target_dir: str, n_buckets: int) -> None:
    """Persist-and-validate the bucket count of an on-disk bucketed
    table: the first writer records it in a `_n_buckets` metadata file
    (underscore prefix → invisible to parquet readers); every later
    writer asserts it matches. Without this, restarting a maintainer
    with a different n_buckets silently mixes incompatible layouts —
    keys hash to different buckets, merges/recomputes miss prior rows,
    and stale versions survive."""
    target = Path(target_dir)
    meta = target / N_BUCKETS_META
    if meta.exists():
        existing = int(meta.read_text().strip())
        if existing == n_buckets:
            return
        # A mismatched count is only fatal once DATA exists in the old
        # layout; a store holding nothing but the metadata file (the
        # first write crashed between check and data landing) is safely
        # re-initializable with the new count.
        has_data = any(
            p.is_dir() and p.name.startswith(f"{BUCKET_COL}=")
            for p in target.iterdir()
        )
        if has_data:
            raise ValueError(
                f"bucketed table at {target_dir} was written with "
                f"n_buckets={existing}; refusing to write with "
                f"n_buckets={n_buckets} (would silently mix layouts)"
            )
    target.mkdir(parents=True, exist_ok=True)
    meta.write_text(str(n_buckets))


def key_bucket_col(key_cols: list[str], n_buckets: int):
    """The ONE definition of the on-disk bucket id: every reader and
    writer of a bucketed table must derive it from here, or layouts
    silently diverge."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


def existing_bucket_dirs(target_dir: str, buckets: list[int]) -> list[str]:
    """Partition dirs under `target_dir` that exist for `buckets`."""
    target = Path(target_dir)
    return [
        str(target / f"{BUCKET_COL}={b}")
        for b in buckets
        if (target / f"{BUCKET_COL}={b}").is_dir()
    ]


def read_buckets(
    spark, target_dir: str, buckets: list[int], merge_schema: bool = False
) -> DataFrame | None:
    """Read only the given buckets of a bucketed table (partition
    column retained via basePath); None if none exist yet.

    ``merge_schema`` unions the file schemas instead of sampling one
    file (columns missing from older files null-fill) — required for
    indexes whose schema gained a column mid-life (annindex's `code`,
    r12): without it, inference may sample an OLD file and silently
    DROP the new column from every row, and a subsequent staged swap
    would persist the loss. Costs a footer read per file; buckets are
    touched-only so the set is small."""
    dirs = existing_bucket_dirs(target_dir, buckets)
    if not dirs:
        return None
    reader = spark.read.option("basePath", target_dir)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*dirs)


def staged_swap_buckets(
    merged: DataFrame, index_dir: str, touched: list[int], batch_id: int
) -> None:
    """CRASH-SAFE bucket rewrite (the compact_changelog discipline,
    scd2.py — shared by streaming/dedup.py and streaming/semdedup.py
    so the ordering-critical steps cannot drift apart): write the
    merged buckets to a sibling staging dir, MOVE the new files into
    the live bucket dirs, THEN delete the old files. A crash at any
    point leaves each touched bucket either untouched or with old+new
    files whose rows are identical duplicates — every reader folds
    them away with dropDuplicates. `merged` must carry BUCKET_COL.

    Single-writer / local-fs assumption as documented in
    streaming/dedup.py: POSIX rename semantics, one live writer per
    index_dir, staging keyed by (index_dir, batch_id)."""
    import shutil
    from pathlib import Path

    staging = Path(index_dir + f".merge-tmp{batch_id}")
    if staging.exists():
        shutil.rmtree(staging)  # stale staging from a crash
    merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(str(staging))
    for b in touched:
        live = Path(index_dir) / f"{BUCKET_COL}={b}"
        live.mkdir(parents=True, exist_ok=True)
        old_files = list(live.glob("*.parquet"))
        staged = staging / f"{BUCKET_COL}={b}"
        for f in staged.glob("*.parquet") if staged.exists() else []:
            f.rename(live / f.name)
        for f in old_files:
            f.unlink()
            crc = f.parent / f".{f.name}.crc"
            if crc.exists():
                crc.unlink()
    shutil.rmtree(staging)


def overwrite_buckets(df: DataFrame, target_dir: str) -> None:
    """Dynamically overwrite exactly the bucket partitions present in
    `df` (which must carry BUCKET_COL), leaving every other bucket's
    files untouched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(target_dir)
    )


def upsert_latest_by_key(
    target_dir: str,
    key_cols: list[str],
    version_col: str,
    n_buckets: int | None = None,
):
    """Build a foreachBatch function that merges each micro-batch into
    a parquet 'table', keeping the highest-`version_col` row per key
    (ties broken by the key tuple — deterministic).

    Two layouts:

    - ``n_buckets=None`` (default): flat table, full read-merge-
      rewrite per batch. Right for dim-sized targets (the DWS tables
      in tests); O(table) per batch.
    - ``n_buckets=K``: the 100 TB layout — the table is
      hash-partitioned on ``pmod(xxhash64(keys), K)`` and each batch
      merges and rewrites ONLY the buckets its keys touch (dynamic
      partition overwrite). Per-batch cost is O(touched buckets), so
      with K sized such that a bucket ≈ a few hundred MB, a trickle
      of updates no longer rewrites terabytes. The merge is clustered
      on the bucket column (one exchange, which the latest-per-key
      window reuses), so every touched bucket is rewritten as exactly
      ONE parquet file per batch — the file count stays at ≤ K however
      many shuffle partitions the session has, and a bucket left with
      several files by an older layout is compacted on its next touch.
      Read the table back with :func:`read_upsert_table` (drops the
      bucket column).

    At warehouse scale the same function body targets an ACID table
    (MERGE INTO on Delta/Iceberg) or a ClickHouse JDBC batch insert;
    parquet-overwrite keeps this repo dependency-free. State is in
    the TARGET, not the stream — so the operator itself is stateless
    and restarts are safe (re-merging a replayed batch is a no-op).
    """

    def latest_per_key(merged: DataFrame, *cluster_cols: str) -> DataFrame:
        w = Window.partitionBy(*cluster_cols, *key_cols).orderBy(F.col(version_col).desc())
        return (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def write_flat(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        target = Path(target_dir)
        merged = batch_df
        if any(target.glob("*.parquet")):
            existing = spark.read.parquet(str(target))
            merged = existing.unionByName(batch_df)
        latest = latest_per_key(merged)
        # Two-phase write: parquet can't overwrite a dir being read.
        tmp = str(target) + f".tmp{batch_id}"
        latest.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(str(target))

    def write_bucketed(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        check_bucket_layout(target_dir, n_buckets)
        # Persist: the batch plan feeds BOTH the touched-bucket probe
        # and the merge — without this the micro-batch's whole
        # upstream transform chain evaluates twice per trigger.
        batch = batch_df.withColumn(
            BUCKET_COL, key_bucket_col(key_cols, n_buckets)
        ).persist()
        try:
            # The touched-bucket list is ≤ n_buckets ints —
            # driver-sized by construction, not data-sized.
            touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
            existing = read_buckets(spark, target_dir, touched)
            merged = batch if existing is None else existing.unionByName(batch)
            # Cluster on the bucket: each bucket lands in one task, so
            # the write below emits one file per bucket. The bucket is
            # a function of the keys, so adding it to the window's
            # partitioning changes no result and reuses this exchange.
            merged = merged.repartition(BUCKET_COL)
            # Materialize before overwriting the very partitions being
            # read (the bucketed form of the flat path's tmp-dir dance).
            latest = latest_per_key(merged, BUCKET_COL).localCheckpoint(eager=True)
            overwrite_buckets(latest, target_dir)
        finally:
            batch.unpersist()

    return write_flat if n_buckets is None else write_bucketed


def read_upsert_table(spark, target_dir: str) -> DataFrame:
    """Read an upsert target written by :func:`upsert_latest_by_key`,
    flat or bucketed (the internal bucket column is dropped)."""
    df = spark.read.parquet(target_dir)
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def run_to_completion(query: StreamingQuery) -> None:
    """Drain all available input then stop (end-of-stream for tests).

    If the query died, surface its ROOT CAUSE as the raised error —
    `processAllAvailable` alone buries e.g. a parquet schema mismatch
    twenty frames deep in a Py4J trace (or, worse, a caller polling
    `lastProgress` never learns the query is dead at all). Every exit
    path funnels through `query.exception()`: a bare try/finally
    would let `awaitTermination()` re-raise the buried form from
    inside the finally block and discard the root cause."""

    def raise_root_cause(fallback: Exception) -> None:
        exc = query.exception()
        if exc is not None:
            raise exc from None
        raise fallback

    try:
        query.processAllAvailable()
    except Exception as inflight:
        # stop() itself can raise on an already-dead query; never let
        # that mask the root cause raise_root_cause is about to surface.
        with contextlib.suppress(Exception):
            query.stop()
        raise_root_cause(inflight)
    query.stop()
    try:
        query.awaitTermination()
    except Exception as term:
        raise_root_cause(term)
    exc = query.exception()
    if exc is not None:
        raise exc


def await_progress(
    query: StreamingQuery, min_batch_id: int = 0, timeout_s: float = 120.0
) -> None:
    """Block until the running query has committed a batch with id ≥
    `min_batch_id`. BOUNDED: re-raises the query's own exception the
    moment it dies, and fails after `timeout_s` instead of spinning
    forever — every poll loop in tests must go through this (a dead
    query never produces progress, so a bare `while lastProgress is
    None` loop hangs the whole suite)."""
    import time

    deadline = time.monotonic() + timeout_s
    while True:
        exc = query.exception()
        if exc is not None:
            raise exc
        progress = query.lastProgress
        if progress is not None and progress["batchId"] >= min_batch_id:
            return
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"streaming query made no progress to batch {min_batch_id} "
                f"within {timeout_s}s (lastProgress={progress})"
            )
        time.sleep(0.2)
