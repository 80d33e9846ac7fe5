"""SparkSession factory.

Design decisions (SURVEY.md §7 Phase 0):

- **ANSI mode stays ON** (Spark 4.x default). The reference's pandas
  ``errors='coerce'`` semantics (analyse.py:29,175-176,183-184,386-387) are
  reproduced with ``try_cast`` / ``try_to_timestamp`` / ``try_divide`` in
  ``functions.cleaning`` — never by disabling ANSI, so genuine engine bugs
  still throw instead of silently nulling.
- **AQE on** with partition coalescing and skew-join handling: city/category
  style dimensions are skewed by nature (SURVEY.md §4.2); at 100 TB the
  runtime re-plan is what keeps one hot key from stalling a stage.
- **Session timezone pinned to UTC** so timestamp semantics agree with
  columnar at-rest data and with external oracles (DuckDB is UTC-naive).
- **shuffle.partitions** defaults to the local core count; on a real cluster
  AQE coalescing makes the static number far less load-bearing, and callers
  can override via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The runtime confs the engine's semantics depend on. ``get_spark`` builds
# its session with them, and ``sources.readers.ensure_engine_conf`` sets
# them on any caller-provided session (the driver contract hands us one we
# didn't build).
ENGINE_CONF = {
    # Some at-rest parquet carries TIMESTAMP(NANOS) (not in Spark's type
    # system; reads throw PARQUET_TYPE_ILLEGAL): read it as raw nanosecond
    # longs, which sources.read_table converts to microsecond timestamps
    # (identical to how µs-precision engines truncate nanos).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # isAdjustedToUTC=false MICROS columns (the current testdata
    # generation) otherwise arrive as TIMESTAMP_NTZ, which ``unix_micros``
    # and window/watermark APIs reject — read them as plain TIMESTAMP
    # (micros unchanged under the UTC session timezone).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Hour/day extractions and timestamp collection must agree with the
    # UTC-naive at-rest data and external oracles.
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate rewrites explode(e) into Filter(size(e)>0)
    # + explode(e) and pushes the filter to the scan. Every exploded array
    # in this engine is expression-COMPUTED (shingles, hashes, window
    # minima — never a stored column), so the inferred filter re-evaluates
    # the whole generator expression once per input row with no pruning
    # benefit; for winnowing it re-inlined the O(tokens·windows) md5 tree
    # the staged projection exists to avoid (measured: 26 s → 0.6 s at
    # sf0.1 with the rule excluded). Correctness is unaffected — explode
    # of an empty array emits nothing either way. ensure_engine_conf
    # appends it to any rules the session already excludes.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(
    app_name: str = "markt_database_analyzer_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real deployment the master comes from spark-submit and
    this argument is left None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (profiles-analogs, nation/region/customer) are
        # small; keep the default broadcast threshold but make the intent
        # explicit — operators also hint broadcast() where the small side is
        # known statically.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
