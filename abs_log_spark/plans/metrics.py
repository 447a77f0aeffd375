"""Lineage metrics ([B] north_rule: "per-partition lineage + metrics").

Row counts are collected with ``DataFrame.observe`` — accumulator-style
metrics piggybacking on the job's own actions, ZERO extra passes over the
data (a ``df.count()`` audit at 10^12 rows would be a full extra scan).
Generated-code compiles are read from the JVM's own counters, also with no
Spark job.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from abs_log_spark.catalog import Catalog

METRICS_TABLE = "metrics"


def codegen_totals(spark: SparkSession) -> tuple[int, float]:
    """(sources compiled, compile ms) by Spark's generated-code compiler in
    this JVM so far: ``CodegenMetrics``' compile count and
    ``CodeGenerator.compileTime``. Cache hits count in neither. Driver-side
    counters, no Spark job; in local mode the executors share the driver's
    JVM, so their compiles are included, on a cluster only the driver's."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(compiles.getCount()), nanos / 1e6


class StageMetrics:
    """Attach observation points to the flowing DataFrame, then persist the
    collected values once the terminal action has run."""

    def __init__(self, spark: SparkSession) -> None:
        self.observations: dict[str, Observation] = {}
        self.t0 = time.monotonic()
        self.timings: dict[str, float] = {}
        self._last = self.t0
        self._codegen0 = codegen_totals(spark)

    def mark(self, phase: str) -> None:
        """Record wall time since the previous mark under ``phase``."""
        now = time.monotonic()
        self.timings[phase] = round(now - self._last, 3)
        self._last = now

    def observe_input(self, df: DataFrame) -> DataFrame:
        obs = Observation("input")
        self.observations["input"] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows_in"))

    def observe_routed(self, df: DataFrame) -> DataFrame:
        obs = Observation("routed")
        self.observations["routed"] = obs
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_routed"),
            F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("rows_valid"),
            F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("rows_invalid"),
        )

    def observe_agg_input(self, df: DataFrame) -> DataFrame:
        """Rows entering the incremental-summary aggregation — on a resumed
        run this must equal the INCREMENT size, not the total history (the
        test hook proving the aggregate never re-scans completed buckets)."""
        obs = Observation("agg_input")
        self.observations["agg_input"] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows_agg_input"))

    def flush(
        self, spark: SparkSession, cat: Catalog, run_id: str, partition_keys: list[str]
    ) -> dict:
        wall_ms = int((time.monotonic() - self.t0) * 1000)
        vals: dict = {"wall_ms": wall_ms}
        for name, obs in self.observations.items():
            try:
                vals.update(obs.get)
            except Exception:  # action may not have touched this point
                pass
        def as_long(key: str) -> int:
            v = vals.get(key)
            return int(v) if v is not None else 0  # empty input -> null sums

        vals = {k: (0 if v is None else v) for k, v in vals.items()}
        row = (
            run_id,
            "pipeline",
            ",".join(map(str, sorted(partition_keys))),
            as_long("rows_in"),
            as_long("rows_valid"),
            as_long("rows_invalid"),
            as_long("rows_routed"),
            wall_ms,
        )
        df = spark.createDataFrame(
            [row],
            "run_id string, stage string, partition_key string, rows_in long,"
            " rows_valid long, rows_invalid long, rows_routed long, wall_ms long",
        )
        cat.append(df, METRICS_TABLE)
        vals["timings"] = dict(self.timings)
        # after the append, so the metrics write's own compiles count too
        compiles, compile_ms = codegen_totals(spark)
        vals["codegen_compiles"] = compiles - self._codegen0[0]
        vals["codegen_compile_ms"] = round(compile_ms - self._codegen0[1], 1)
        return vals
