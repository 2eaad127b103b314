"""SparkSession factory tuned for the frontier engine.

Local mode here mirrors what spark-submit on a multi-executor cluster
would set: AQE on (skew-join + coalesce), Arrow on, shuffle
partitions ~ cores. At cluster scale, shuffle partitions scale with
total cores and `spark.sql.files.maxPartitionBytes` bounds scan tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app: str = "yacy_grid_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """`cores` defaults to SPARK_GRAFT_CPUS, else the machine's CPU
    count. `master` overrides the default local[cores] — e.g.
    "local-cluster[4,8,8192]" runs 4 separate executor JVMs x 8 cores
    (the spark-submit multi-executor shape; executors import the repo
    via spark.executorEnv.PYTHONPATH below)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    if master and master.startswith("local-cluster"):
        os.environ.setdefault(
            "SPARK_HOME",
            os.path.dirname(os.path.abspath(__import__("pyspark").__file__)),
        )
    b = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A frame of rows the driver already holds, as a JVM LocalRelation.

    `createDataFrame(list_of_tuples)` pickles the rows into an RDD, so
    every job that broadcasts or writes the frame runs tasks over it.
    An Arrow table instead crosses to the JVM once, at plan build, and
    lands as a LocalRelation: a broadcast of it collects nothing and a
    write of it scans no RDD. The pyarrow.Table input takes the Arrow
    path unconditionally (no fallback to pickling, zero rows
    included)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), fl.type) for c, fl in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
