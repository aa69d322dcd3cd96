"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (and harmless at test scale):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast selection replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` sized from the local core count; on a
  real cluster AQE coalesces down from a deliberately high initial value.
- Session timezone pinned to UTC so timestamp semantics are identical to
  the DuckDB correctness oracle (naive / UTC storage).
- Arrow enabled for every pandas interchange path (pandas_udf,
  mapInPandas, toPandas) — the engine's Python stages are all batched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "ai-tutor-spark-engine") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Settings the driver-provided session may lack but correctness needs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-side table (probe pairs, query vectors, lookup tables,
    small result sets) as a ``LocalTableScan``: the package's one way to
    turn Python rows into a frame.

    ``spark.createDataFrame(list)`` plans a scan of a PythonRDD, so every
    action over it starts a Python worker and unpickles the rows, 0.3 s
    warm and over 1 s cold per table. Handing Spark a ``pyarrow.Table``
    instead ships the rows to the JVM as Arrow batches at plan time and
    runs no Python while the plan executes. This path does not read
    ``spark.sql.execution.arrow.pyspark.enabled``, so a session built
    without the engine's defaults gets it too.

    ``rows`` is a sequence of tuples (or Rows) in ``schema`` order;
    ``schema`` is a DDL string or a StructType."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: the package's one pin policy. With a
    checkpoint dir on the session (Spark's ``spark.checkpoint.dir`` conf,
    the cluster deployment switch) this is a reliable ``checkpoint()``
    that survives executor loss; without one, an executor-local
    ``localCheckpoint()``. ``eager`` materializes now in a job of its
    own; a lazy pin is materialized by the first action over it."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
