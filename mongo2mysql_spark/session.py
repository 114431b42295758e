"""SparkSession construction with scale-aware defaults.

Local-mode testing runs on ``local[N]``; the same builder settings are
what we would ship to a 1000-executor cluster, minus the master URL:

- AQE on (runtime coalesce + skew-join splitting — document-db key
  distributions are Zipfian, cf. the reference's ``$allKeys`` tally at
  Porter.php:328-332).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so the local value
  is not load-bearing.
- Session timezone pinned to UTC: the reference emits ISO-8601 UTC
  strings for dates (Porter.php:290-292), and the DuckDB oracle
  compares timestamps as UTC-naive.
- Arrow enabled for the few Pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def build_session(
    app_name: str = "mongo2mysql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-built rows (query distance tables, cell centroids, a sync
    batch's JSON lines) as a ``LocalRelation``: the rows cross to the
    JVM as one Arrow table, so no execution of the frame runs a
    Python-worker task — ``createDataFrame(list)`` plans a PythonRDD
    that every execution re-runs.  Values keep their exact bits:
    doubles are doubles on both sides, and floats that came out of
    Spark are float32 already.  Empty ``rows`` give an empty frame of
    ``schema``.  A scan of the frame spreads it over up to
    ``defaultParallelism`` partitions."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
