"""SparkSession factory with the engine's standard configuration.

Scale rationale (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  ([B] north_star: "AQE skew-join handling ... for hot sources").
- Arrow on: every Python crossing is an Arrow batch, never per-row
  ([B] input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)").
- Session time zone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
- Dynamic partition overwrite: idempotent re-writes of routed partitions on
  resume (checkpoint/restart semantics, [B] north_rule "resumable from
  checkpoint").
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

#: Confs applied to every session the engine creates. On a real cluster these
#: land in spark-defaults; values chosen to survive a 100x scale-up:
#: shuffle.partitions is a *starting* value — AQE coalesces down or splits
#: skewed partitions at runtime, so oversizing is safe.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Token arrays are wide (one int per character); keep Arrow batches
    # moderate so executor-python memory stays bounded at 100 TB scale.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # zstd, not snappy: measured on the 24M-row token-array write (the
    # pipeline's dominant I/O), zstd is BOTH ~40% faster to encode AND ~27%
    # smaller on disk (15-20s/881MB vs 27-41s/1.2GB) — snappy pays a slow
    # dictionary-encode on the wide int-array column for worse compression.
    # At 100 TB smaller output also means proportionally less shuffle/IO for
    # every downstream reader.
    "spark.sql.parquet.compression.codec": "zstd",
    # Encode tuning for the token-array write (measured on the real
    # dynamic-partition routed write, 4M rows local[8], min-of-3):
    # zstd level 1 + 4MB pages = 15.45s -> 13.69s (-11%) at IDENTICAL
    # output size (241 vs 242 MB) — the larger pages give zstd enough
    # context to offset the level drop, while level 1 cuts encode CPU.
    # Per-column dictionary disable and row-group size measured neutral
    # (the token column already overflows parquet's dict and falls back).
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    "spark.hadoop.parquet.page.size": str(4 << 20),
    # Dynamic-partition writes: keep up to 8 writers open per task instead
    # of sort-before-write (measured on the real routed write, 4M rows
    # local[8], min-of-3: 14.85 -> 13.63 s, and the sort path's spill-
    # sensitive outliers — 21s walls — disappear). The salted layout
    # repartition already routes each task a handful of (sink, bucket)
    # groups, so 8 writers cover it; tasks exceeding the limit fall back
    # to sort-based for the remainder (no correctness edge). Memory per
    # writer is bounded by the data the task actually holds (<= one 32MB
    # input split), not by parquet.block.size.
    "spark.sql.maxConcurrentOutputFileWriters": "8",
    # local-mode friendly; AQE re-coalesces. On a 1000-executor cluster this
    # would be ~2-3x total cores instead.
    "spark.sql.shuffle.partitions": "64",
    # Scan partitions must be sized by EXPANDED size, not compressed file
    # size: the token-array tables expand ~13x from zstd parquet to
    # in-memory rows (1.8 GB on disk -> ~24 GB of rows at 48M rows), so
    # Spark's 128 MB default hands each task ~1.6 GB of rows — the
    # dynamic-partition writer's per-task sort then exceeds the execution
    # pool once enough tasks run concurrently and the job collapses into
    # spill thrash (measured: 48M rows at local[16] went 238s -> 83s from
    # this conf alone; local[4] was unaffected because 4 oversized sorts
    # still fit). 32 MB compressed ~= 400 MB of rows per task.
    "spark.sql.files.maxPartitionBytes": "33554432",
    # Generated-code class cache: an LRU keyed by the generated Java source,
    # sized to the engine's working set. Spark's default of 100 is smaller
    # than one pipeline run: perfbench pipeline_increment compiles ~160
    # distinct sources (155-167 in its warm-up), so each warm op
    # (incremental run + expiry + report views) cycled them through 100
    # entries and recompiled 151-162, and the JIT then re-compiled every
    # fresh class; curation_dup_clusters (94 sources) recompiled 21-50 per
    # op. With 1000 a warm pipeline op compiles 0, and peak RSS did not
    # move. A per-run literal inlined into generated code still misses
    # every time (see checkpoint.mark_done). Static conf: only the JVM's
    # first session applies it.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # The key must not depend on plan numbering either. By default a
    # whole-stage class is named after its codegen stage id, which AQE
    # assigns in the order query stages finish re-planning, so the same
    # pipeline can come back under another id and miss: with the cache
    # alone, 8 whole-stage classes recompiled on 1 of 4 warm
    # curation_dup_clusters ops. Without the id, warm ops compiled 0 and the
    # warm-up 88 sources instead of 96. Cost: stack traces name
    # "GeneratedIterator" with no stage number.
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "abs-log-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs."""
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _arrow_column(values: tuple, arrow_type: pa.DataType) -> pa.Array:
    if pa.types.is_timestamp(arrow_type):
        # under an explicit tz type pyarrow keeps an aware datetime's wall
        # clock and drops its offset: pin the instant to UTC first
        values = [v.astimezone(timezone.utc) if v is not None and v.tzinfo else v for v in values]
    return pa.array(values, type=arrow_type)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-held rows that plans as a ``LocalTableScan``.

    ``spark.createDataFrame(list, schema)`` is a Python RDD (``Scan
    ExistingRDD``): every action on it runs ``defaultParallelism`` Python
    tasks, most of them empty, in a second Python worker daemon next to the
    one the Arrow parse UDF uses. Built from a ``pyarrow.Table`` typed by the
    same schema, the rows travel to the JVM once, an action runs no Python
    task and a broadcast of the frame runs no Spark job. Timestamps are
    instants: a tz-aware ``datetime`` keeps its instant, a naive one is read
    as UTC (never as the host's local time)."""
    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [_arrow_column(c, f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
