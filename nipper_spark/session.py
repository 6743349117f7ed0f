"""SparkSession construction with the engine's scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; the sandbox runs
the same config on local[N]. Every setting is chosen for the frontier
workload, not copied boilerplate:

- AQE on (+ skew-join): frontier rounds have Zipf host skew by design;
- Arrow enabled with a bounded batch size: HTML pages are fat rows —
  10k-row default batches would make worker memory spiky;
- shuffle partitions sized for the sandbox; on a real cluster AQE
  coalesces from a high initial number instead.

Driver-built tables enter Spark through :func:`local_df` (Arrow), never
``createDataFrame`` on Python rows: that path pickles the rows into a
Python RDD, whose first action starts a second Python worker pool and
whose every scan runs Python tasks.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def build_session(app: str = "nipper-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get(
        "NIPPER_SHUFFLE_PARTITIONS", cpus))
    return (
        SparkSession.builder
        .appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # never take the bypass-merge shuffle writer: it creates one
        # file per reduce partition per map task (M·R file creates —
        # measured ~300 ms of pure file-open CPU per 32-partition map
        # task on tiny data; a 32→32 exchange of 5k rows cost 0.45 s
        # vs 0.15 s with the sort-based writer, and a 2M-row exchange
        # 0.60 s vs 0.17 s). The sort-based/serialized writer emits ONE
        # indexed file per map task at every R. In production R is
        # ≥ the 200 default threshold and bypass never engages, so
        # this only changes the small-R regime where it measurably
        # loses.
        .config("spark.shuffle.sort.bypassMergeThreshold", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("NIPPER_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def arrow_table(rows: list, ddl: str) -> pa.Table:
    """Python row tuples → Arrow table typed by the DDL schema, through
    pyspark's own Spark→Arrow type mapping. Timestamps stay tz-naive so
    naive datetimes mean session-local wall time, as they do for
    ``createDataFrame`` on rows."""
    schema = to_arrow_schema(StructType.fromDDL(ddl), timestamp_utc=False)
    cols = list(zip(*rows)) if rows else [() for _ in schema]
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


def local_df(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A driver-built table as a driver-local ``LocalRelation``: the rows
    cross to the JVM once as Arrow, scans run no Python tasks, and the
    optimizer sees exact size statistics."""
    return spark.createDataFrame(arrow_table(rows, ddl), ddl)
