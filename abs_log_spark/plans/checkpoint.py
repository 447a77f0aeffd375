"""Checkpoint/resume over input partitions ([B] north_rule: "resumable from
checkpoint with per-partition lineage").

abs-log resumes via a per-file byte offset saved after each cron run ([PK]
offset/bookmark record). The Spark-first equivalent at 10^12 rows is
partition-level lineage: the input is laid out by ``part_bucket`` (hash of
doc_id — the Iceberg-bucket stand-in), a checkpoint table records each
bucket that completed the routed write, and a restart anti-joins the input
against completed buckets so only unfinished partitions are re-read (with a
partitioned source this prunes whole files, not just rows).

Idempotence: the routed write uses dynamic partition overwrite keyed by
``part_bucket`` — re-running a bucket replaces exactly that bucket, so a
crash between write and checkpoint append cannot duplicate rows.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.catalog import Catalog

CHECKPOINT_TABLE = "checkpoint"
CHECKPOINT_SCHEMA = (
    "run_id string, stage string, partition_key string, status string, ts timestamp"
)


def _heal(cat: Catalog) -> None:
    """Roll forward any retention swap a previous run crashed inside, BEFORE
    any checkpoint read or append. Without this, a crash inside
    expire_buckets' ``_replace_table`` window (live table moved to tombstone,
    staging not yet promoted) makes the next run see NO checkpoint table:
    ``completed_partitions`` returns empty, everything re-ingests, and
    ``mark_done``'s append RECREATES the live table — after which the next
    ``recover_retention`` classifies the swap as complete and deletes the
    tombstone, permanently discarding all pre-crash lineage. Healing at
    every consumer closes that window (round-4 ADVICE, medium)."""
    from abs_log_spark.operators.retention import recover_retention

    recover_retention(cat, CHECKPOINT_TABLE)


def completed_partitions(spark: SparkSession, cat: Catalog, stage: str) -> set[str]:
    _heal(cat)
    if not cat.exists(CHECKPOINT_TABLE):
        return set()
    rows = (
        cat.read(spark, CHECKPOINT_TABLE)
        .where((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
        .collect()
    )
    return {r.partition_key for r in rows}


#: above this many completed buckets, the NOT-isin predicate (a linear chain
#: the optimizer evaluates per row and cannot index) gives way to a broadcast
#: anti-join against the done-set — O(1) hash probe per row, and the tiny
#: done relation ships once per executor.
ISIN_MAX_KEYS = 64


def filter_pending(df: DataFrame, done: set[str], key_col: str = "part_bucket") -> DataFrame:
    """Drop already-completed partitions. With a disk layout partitioned by
    ``key_col`` the small-set predicate becomes partition pruning at the
    scan; a long-history done-set (thousands of buckets) switches to a
    broadcast left_anti join instead of a thousands-deep isin chain."""
    if not done:
        return df
    # normalize NULL keys to a sentinel so both paths agree: a bare
    # ~isin(...) evaluates to NULL on a null key and silently DROPS the row,
    # while left_anti keeps it — behavior must not flip at ISIN_MAX_KEYS.
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("<null>"))
    if len(done) <= ISIN_MAX_KEYS:
        return df.where(~key.isin(*sorted(done)))
    spark = df.sparkSession
    done_df = spark.createDataFrame(
        [(k,) for k in sorted(done)], "_done_key string"
    )
    return df.join(F.broadcast(done_df), key == F.col("_done_key"), "left_anti")


def mark_done(
    spark: SparkSession,
    cat: Catalog,
    run_id: str,
    stage: str,
    partition_keys: list[str],
) -> None:
    if not partition_keys:
        return
    _heal(cat)  # never append-recreate a table stranded mid-retention-swap
    # the time travels as row data, not as current_timestamp(): the
    # optimizer folds that into a long literal, which generated code
    # inlines, so every run would compile a fresh class (codegen cache miss)
    ts = datetime.now(timezone.utc)
    rows = [(run_id, stage, str(k), "done", ts) for k in partition_keys]
    df = spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
    cat.append(df, CHECKPOINT_TABLE)
