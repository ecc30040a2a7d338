"""SparkSession factory with the engine's standard configuration.

Defaults are chosen for the 100 TB design point and scaled down only by
parallelism: AQE on (runtime re-plan + skew-join), Arrow for all
pandas-UDF exchange, UTC session timezone (oracle comparability),
shuffle partitions sized to cores at local scale (a real cluster would
set this to 2-3× total cores or rely on AQE coalescing).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType


def heap_from_available() -> str:
    """A driver heap size for ``SPARK_DRIVER_MEMORY``: half of the
    machine's ``MemAvailable`` in whole GiB, between 1 and 24 —
    the other half stays for the Python workers and the page cache."""
    with open("/proc/meminfo") as f:
        avail_kib = next(
            int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
        )
    return f"{max(1, min(24, avail_kib // (2 << 20)))}g"


def get_spark(
    app_name: str = "basic-common-crawl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """Driver-held rows (tuples in ``schema`` field order) as a DataFrame
    that no Python worker ever scans.

    ``spark.createDataFrame(<list>)`` becomes a Python RDD: every scan
    of it starts one Python task per partition, and each such task costs
    ~0.2 CPU-s of worker set-up however few rows it carries. Built from
    a ``pyarrow.Table`` instead, the frame is a JVM ``LocalRelation``
    (``LocalTableScan`` in the plan), or a JVM Arrow-batch RDD above
    ``spark.sql.execution.arrow.localRelationThreshold``.

    ``schema`` is a StructType or a DDL string. Naive ``datetime`` values
    in TimestampType columns are read as local time, as
    ``createDataFrame(<list>)`` and ``collect()`` both do."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(schema.fields):
        values = [row[i] for row in rows]
        if isinstance(field.dataType, TimestampType):
            values = [
                v if v is None or v.tzinfo else v.astimezone() for v in values
            ]
        columns.append(pa.array(values, type=arrow_schema.field(i).type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
