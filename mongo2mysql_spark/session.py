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
- A fixed JIT policy for the driver JVM (:data:`DRIVER_JIT_OPTIONS`):
  HotSpot's tier-4 (C2) compile thresholds raised 10×, tiers 0–3 at
  their JDK 17 defaults.  Every run of this engine is a short-lived
  JVM (the CLI, a sync call, a benchmark, the test suite), and its
  driver code is lukewarm: Catalyst planning, Scala collections and
  py4j dispatch, each method run a few thousand times and then rarely
  again.  Under the default thresholds the C2 compiler threads were the
  largest CPU consumer of the process, and Spark's task metrics do not
  count them (4 vCPUs, perfbench ``migrate``: 13–15 of 27–29 CPU-s of
  the bulk export and 1.2–2.0 of 2.3–3.3 CPU-s of a warm sync call;
  ``corpus_build``: 25–43 of 90–98 CPU-s of its bulk phases).  With
  the raised thresholds such methods stay at C1 (a warm sync call then
  spends 0.2–0.5 CPU-s in C2), while a per-row loop still crosses 400k
  back-edges quickly and gets C2.  3× left most of the C2 time; 30×
  doubled the executor threads' CPU in ``corpus_build``'s search
  steps, whose hot loops then waited too long for C2.  Java 17 makes
  all floating point strict (JEP 306), so C1 and C2 code give
  bit-identical results.  The policy is driver-only: in local mode the
  driver is the executor, but on a cluster the executor JVMs keep the
  JDK defaults, because they run the long hot loops C2 pays for.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# HotSpot tier-4 (C2) thresholds, 10× the JDK 17 defaults (5000 / 600
# / 15000 / 40000); see the module docstring.  ``defaultJavaOptions``
# is prepended to ``spark.driver.extraJavaOptions``, so a caller's
# options still apply, and a later flag of theirs wins.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=400000"
)


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
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
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
