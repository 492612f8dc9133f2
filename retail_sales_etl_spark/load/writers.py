"""Load layer: idempotent warehouse sinks + post-load validation.

Spark-first re-expression of the reference load layer
(/root/reference/etl/load.py:103). The reference does DELETE+INSERT
into SQLite; the Spark-native equivalent of an idempotent full reload
is ``mode("overwrite")`` into a parquet table directory — atomic at the
table level, rerunnable, and massively parallel.

Partitioned writes are first-class because at 100 TB the partition
layout IS the read-path index: facts partitioned by a date-derived
column get partition pruning for every time-bounded query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.modeling import pk_integrity_stats


def write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Idempotent table write (full-reload semantics, reference load.py:44).

    ``partition_by`` columns become directory partitions (Hive layout);
    keep their cardinality moderate (a date or region, never a key).
    """
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] | None = None,
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffled layout for co-located joins.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — at 100 TB this converts the fact-fact join's
    dominant cost into a local merge. Requires saveAsTable (bucketing
    metadata lives in the session catalog). ``path`` makes it an
    external table (data at ``path``, metadata in the catalog).
    """
    writer = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def validate_loaded(
    spark: SparkSession,
    path: str,
    primary_key: Sequence[str],
    expected_row_count: int | None = None,
    fmt: str = "parquet",
) -> dict:
    """Post-load integrity validation (reference load.py:144).

    Re-reads the persisted table (validating what was actually written,
    not the in-memory plan) and checks: row count reconciliation, PK
    non-null, PK uniqueness — all in one distributed aggregate.
    """
    stats = pk_integrity_stats(spark.read.format(fmt).load(path), primary_key)
    if expected_row_count is not None and stats["n"] != expected_row_count:
        raise ValueError(
            f"Row count mismatch after LOAD for {path}: "
            f"{expected_row_count} -> {stats['n']}"
        )
    if stats["null_pk"] and stats["null_pk"] > 0:
        raise ValueError(
            f"NULL values found in primary key {list(primary_key)} after LOAD"
        )
    if stats["n"] and stats["distinct_pk"] != stats["n"]:
        raise ValueError(f"Duplicate primary keys detected after LOAD for {path}")

    return {"row_count": stats["n"], "distinct_pk": stats["distinct_pk"]}


def compact_table(
    spark: SparkSession, path: str, target_files: int, fmt: str = "parquet"
) -> dict:
    """Small-file compaction: rewrite a table directory into
    ``target_files`` files.

    Streaming/incremental sinks accumulate small files; scan cost at
    100 TB tracks file count as much as bytes. Rewrites via coalesce
    (no shuffle) into a temp dir, then swaps atomically-enough for a
    single-writer batch context.
    """
    import shutil
    import uuid

    df = spark.read.format(fmt).load(path)
    n_before = df.count()
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(tmp)
    n_after = spark.read.format(fmt).load(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise ValueError(f"Compaction row-count drift: {n_before} -> {n_after}")
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return {"row_count": n_after, "target_files": target_files}


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    primary_key: Sequence[str],
    partition_by: Sequence[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """MERGE INTO semantics on a parquet table: matched keys take the
    update row, unmatched update rows are inserted, everything else is
    kept.

    Expressed as left-anti(target, update keys) ∪ updates — one shuffle
    on the key, never a wide full-outer. Partitioned targets rewrite
    ONLY the partitions present in the update set (semi-join prune +
    ``partitionOverwriteMode=dynamic``), which is the 100 TB shape: a
    daily upsert touches days, not the table. Unpartitioned targets
    fall back to a row-count-guarded temp-dir swap (same pattern as
    compact_table). A lakehouse table format would add file-level
    pruning and ACID on top; the semantics here are identical.
    """
    import os
    import shutil
    import uuid

    target = spark.read.format(fmt).load(path)
    n_target = target.count()
    n_updates = updates.count()
    key_cols = list(primary_key)

    if partition_by:
        parts = [p for p in partition_by]
        # Affected partitions = partitions the update rows land in UNION
        # partitions currently holding any updated KEY. The second leg
        # matters when an update moves a key across partitions (d1->d2):
        # the old d1 partition must be rewritten too, or its stale row
        # survives as a duplicate PK.
        touched = (
            updates.select(*parts)
            .unionByName(
                target.join(
                    F.broadcast(updates.select(*key_cols).distinct()),
                    key_cols,
                    "left_semi",
                ).select(*parts)
            )
            .distinct()
        )
        # Materialize now: the lineage reads the target files the
        # overwrite below replaces. Small — bounded by the update set.
        touched_rows = [r.asDict() for r in touched.collect()]
        affected = target.join(F.broadcast(touched), parts, "left_semi")
        n_affected = affected.count()
        kept = affected.join(updates.select(*key_cols), key_cols, "left_anti")
        n_kept = kept.count()
        # materialize BEFORE overwriting: the merged lineage reads the
        # very files the dynamic overwrite replaces
        merged = kept.unionByName(updates.select(*target.columns)).localCheckpoint(
            eager=True
        )
        (
            merged.write.mode("overwrite")
            .format(fmt)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .save(path)
        )
        # Dynamic overwrite only replaces partitions present in the
        # written data — a partition whose every row migrated away has
        # no rows in `merged`, so its directory (all stale) must be
        # dropped explicitly. Bounded by the update set, never wide.
        # (`merged` is checkpointed, so reading it post-write is safe.)
        written = {
            tuple(r[p] for p in parts)
            for r in merged.select(*parts).distinct().collect()
        }
        for vals in touched_rows:
            if tuple(vals[p] for p in parts) not in written:
                sub = "/".join(f"{p}={vals[p]}" for p in parts)
                shutil.rmtree(os.path.join(path, sub), ignore_errors=True)
        n_after = spark.read.format(fmt).load(path).count()
        expected = n_target - n_affected + n_kept + n_updates
    else:
        kept = target.join(updates.select(*key_cols), key_cols, "left_anti")
        merged = kept.unionByName(updates.select(*target.columns))
        expected = kept.count() + n_updates
        tmp = f"{path}__merge_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").format(fmt).save(tmp)
        n_after = spark.read.format(fmt).load(tmp).count()
        if n_after != expected:
            shutil.rmtree(tmp, ignore_errors=True)
            raise ValueError(f"Merge row-count drift: {expected} -> {n_after}")
        shutil.rmtree(path)
        shutil.move(tmp, path)
    if n_after != expected:
        raise ValueError(f"Merge row-count drift: {expected} -> {n_after}")
    return {"rows_before": n_target, "rows_after": n_after, "rows_upserted": n_updates}


def run_incremental_load(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    watermark_column: str,
    control,
    table_name: str,
) -> dict:
    """Incremental (watermark) load: append only rows newer than the
    last loaded watermark, then advance it.

    The reference's table_md carries load_strategy/watermark columns
    for exactly this (create_control_tables.sql table_md); at scale an
    append of the new slice replaces the full-reload rewrite. The
    watermark filter is pushed to the source scan.
    """
    last = control.latest_watermark(table_name)
    fresh = df if last is None else df.filter(F.col(watermark_column) > F.lit(last))
    n_new = fresh.count()
    if n_new > 0:
        fresh.write.mode("append").format("parquet").save(path)
        new_mark = fresh.agg(F.max(watermark_column)).first()[0]
        control.update_watermark(table_name, str(new_mark), n_new)
    return {"rows_appended": n_new, "watermark": control.latest_watermark(table_name)}


def run_load(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    primary_key: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Full Load phase: count -> write -> re-read -> validate."""
    expected = df.count()
    write_table(df, path, partition_by=partition_by)
    return validate_loaded(spark, path, primary_key, expected_row_count=expected)
