"""SparkSession factory.

Defaults are chosen for the two deployment shapes this engine targets:

* local[N] correctness/bench runs (what the driver executes), and
* a real multi-executor cluster at ~100 TB, where the same code must
  rely on AQE (runtime re-planning, skew-join splitting, partition
  coalescing) instead of hand-tuned constants.

Nothing in the engine caches a session; every public API takes the
session (or a DataFrame) as input, so the same code runs under any
externally-managed session (notebooks, spark-submit, the driver).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_session(app_name: str = "backend_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE is on so that at cluster scale the runtime re-plans joins
    (broadcast conversion, skew splitting) from real statistics; the
    static shuffle-partition count is only the AQE starting point.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet carries TIMESTAMP(NANOS); Spark has
        # no nanos type — read as long (ns since epoch) and convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # pyspark.daemon minus a per-task re-read of pyspark.zip (daemon.py);
        # workers import it, like the engine's UDFs, from this checkout
        # whatever the working directory
        .config("spark.python.daemon.module", "backend_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    The driver's oracle harness builds its own vanilla SparkSession, so
    the nanos conf from ``get_session`` may be absent; events.parquet
    carries TIMESTAMP(NANOS) which Spark rejects without it. The conf is
    runtime-settable, so pin it here where the read actually happens.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def event_ts_us(df: DataFrame, col: str = "ts"):
    """Epoch-microseconds Column for an event-time column, whatever the
    physical type the parquet round delivered:

    * TIMESTAMP(NANOS) read as bigint nanos (``nanosAsLong``) -> integer
      ``div 1000`` (never double division: ~1.7e18 ns exceeds 2^53 and
      float rounding can move a window-boundary event).
    * TIMESTAMP(MICROS, adjustedToUTC) read as timestamp (LTZ) ->
      ``unix_micros``, which is defined directly on the UTC instant the
      parquet stores, so the session timezone can never shift it.
      (Casting LTZ -> NTZ first would re-render the instant in the
      session zone: with ``spark.sql.session.timeZone=America/New_York``
      that returned micros shifted by -5 h.)
    * TIMESTAMP_NTZ (no instant semantics) -> exact
      ``timestampdiff(MICROSECOND, epoch, ts)`` on the naive value,
      matching DuckDB's ``epoch_us(ts)`` bit-for-bit.
    """
    from pyspark.sql import functions as F

    t = dict(df.dtypes).get(col)
    if t in ("bigint", "long"):
        return F.expr(f"{col} div 1000")
    if t == "timestamp":
        return F.unix_micros(F.col(col))
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"cast({col} as timestamp_ntz))"
    )
