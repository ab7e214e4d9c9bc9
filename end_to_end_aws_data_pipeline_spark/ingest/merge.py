"""Keyed upsert (MERGE): the reference's row-by-row
``INSERT ... ON DUPLICATE KEY UPDATE`` (delta_load.py:169-202, one
network round-trip + commit per row) as a set-based distributed merge.

Two forms:
- ``upsert(base, updates, keys)``: pure-DataFrame merge — new rows
  appended, matching keys replaced by the update side. One shuffle on
  the key columns. This is what Delta's MERGE INTO compiles to for
  insert-or-replace, without needing lake-format jars.
- ``merge_into_parquet``: applies ``upsert`` against a parquet table on
  disk (read-modify-write, or partition-scoped).

The reference never declares a primary key (SURVEY.md §1.2), so its
"upsert" silently degrades to append. We make the key explicit and
required — the honest version of the same contract.
"""

from __future__ import annotations

import os
import shutil

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F

_DUPLICATE_KEY = "upsert: updates hold more than one row for a key"


def upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Insert-or-replace by key: updates win over base on key collision.

    base may hold at most one row per key (a table invariant this
    function preserves); so must updates, checked as the plan runs: a
    key with two update rows fails the action that executes it.
    Implementation: tag + union + one window over the key taking the
    highest-precedence row and counting its update rows — a single hash
    shuffle, no join, no extra action.

    Schema drift between deliveries (a realistic CSV-pipeline input) is
    rejected loudly: an increment with missing columns would otherwise
    silently drop those columns from every existing row, and one with
    extra columns would fail with an opaque AnalysisException.
    """
    if set(base.columns) != set(updates.columns):
        missing = sorted(set(base.columns) - set(updates.columns))
        extra = sorted(set(updates.columns) - set(base.columns))
        raise ValueError(
            f"upsert schema drift: updates missing columns {missing}, "
            f"unexpected columns {extra}; align the increment's schema "
            f"to the table (or migrate the table) before merging"
        )
    tagged_base = base.select(*updates.columns).withColumn("__prec", F.lit(0))
    tagged_upd = updates.withColumn("__prec", F.lit(1))
    w = W.partitionBy(*keys).orderBy(F.col("__prec").desc())
    n_updates = F.sum("__prec").over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return (
        tagged_base.unionByName(tagged_upd)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n_upd", n_updates)
        .filter((F.col("__rn") == 1) & F.assert_true(F.col("__n_upd") <= 1, _DUPLICATE_KEY).isNull())
        .drop("__prec", "__rn", "__n_upd")
    )


def merge_into_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> int:
    """Upsert ``updates`` into the parquet table at ``target_dir``;
    creates it if absent. Returns the resulting row count.

    With ``partition_by`` set (which must be one of ``keys``' hash
    inputs — every key lives in exactly one partition), the merge into
    an existing table is partition-scoped: only partitions present in
    ``updates`` are read and rewritten via dynamic partition overwrite,
    so IO is proportional to the delta, not the table — the shape that
    holds at 100 TB. Without it: whole-table read-modify-write, whose
    count is observed in the write's result stage (a retried task counts
    its partition once), so no job reads the table back. A key with two
    rows in ``updates`` raises ``ValueError``; the table is unchanged.
    """
    exists = os.path.exists(target_dir)
    if partition_by is not None and exists:
        return _merge_partition_scoped(spark, target_dir, updates, keys, partition_by)
    base = spark.read.parquet(target_dir) if exists else spark.createDataFrame([], updates.schema)
    obs = Observation()
    merged = upsert(base, updates, keys).observe(obs, F.count(F.lit(1)).alias("n"))
    writer = merged.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    # write-to-temp, rename old aside, promote, then delete old: never
    # overwrite the directory still being scanned by the merge plan, and
    # a valid table directory exists at target_dir at every instant —
    # a crash between the two renames leaves the .__merge_old dir to
    # clean up, never a missing table
    tmp_dir = target_dir.rstrip("/") + ".__merge_tmp"
    old_dir = target_dir.rstrip("/") + ".__merge_old"
    try:
        _save(writer, tmp_dir, keys)
    except Exception:  # a failed write leaves an empty staging dir
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise
    if os.path.exists(old_dir):  # leftover from an interrupted merge
        shutil.rmtree(old_dir)
    if exists:
        os.replace(target_dir, old_dir)
    os.replace(tmp_dir, target_dir)
    if exists:
        shutil.rmtree(old_dir)
    return obs.get["n"]


def _save(writer, path: str, keys: list[str]) -> None:
    """``writer.parquet(path)``; a failed duplicate-key check raises ValueError."""
    try:
        writer.parquet(path)
    except SparkRuntimeException as e:
        if _DUPLICATE_KEY in str(e):
            raise ValueError(f"{_DUPLICATE_KEY} {keys}; the table is unchanged") from None
        raise


def _merge_partition_scoped(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str,
) -> int:
    """Merge touching only the partitions ``updates`` lands in.

    1. collect the (small) set of affected partition values;
    2. read ONLY those partitions of the base (partition pruning);
    3. upsert within them;
    4. dynamic-partition-overwrite writes back just those directories.
    Untouched partition files are never read or rewritten.
    """
    affected = [r[0] for r in updates.select(partition_by).distinct().collect()]
    if any(v is None for v in affected):
        # isin() below never matches NULL, so a NULL partition key would
        # silently skip the upsert against existing null-partition rows
        # (__HIVE_DEFAULT_PARTITION__) and could duplicate keys there
        raise ValueError(
            f"updates contain NULL values in partition column "
            f"{partition_by!r}; partition keys must be non-null for a "
            f"partition-scoped merge"
        )
    base = spark.read.parquet(target_dir)
    base_affected = base.filter(F.col(partition_by).isin(affected))
    merged = upsert(base_affected, updates, keys)
    writer = (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
    )
    _save(writer, target_dir, keys)
    # the table's total: the partitions not rewritten are never read
    return spark.read.parquet(target_dir).count()
