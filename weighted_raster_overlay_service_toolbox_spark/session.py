"""SparkSession factory.

Local test posture: single JVM, ``local[$SPARK_GRAFT_CPUS]`` threads.
Cluster posture (100 TB north star): the same builder works unchanged on a
real master; the configs below are chosen to be correct at both scales --
AQE handles runtime coalescing/skew so ``shuffle.partitions`` is a ceiling,
not a hand-tuned constant.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(app_name: str = "wros-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes:
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching replace hand-tuning at 100 TB.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB): dimension
      tables (region/nation/supplier/part and the WRO catalog itself)
      broadcast automatically; fact-fact joins sort-merge.
    - Arrow enabled for the Pandas-UDF slow path (similarity search,
      multimodal decode) -- batch transfer, never per-row pickling.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Python workers must be able to import THIS package: a UDF closure
    # referencing a module-level function (the realistic pattern -- e.g.
    # q_udf_scalar's csv_encode_py) is cloudpickled BY REFERENCE, and the
    # worker re-imports the module. Workers build sys.path from PYTHONPATH
    # at fork time, not from the driver's sys.path, so a driver launched
    # from any other cwd gets ModuleNotFoundError in the worker. Export
    # the package root before the JVM starts; on a real cluster the
    # equivalent is --py-files / spark.submit.pyFiles.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if pkg_root not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + prev if prev else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long, converted in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if not os.environ.get("SPARK_MASTER"):  # pragma: no branch - local default
        builder = builder.master(f"local[{cpus}]")
        # Measured, not assumed: shrinking files.maxPartitionBytes /
        # AQE advisory size to split the ~11 MB fixture files across all
        # 32 local cores was benchmarked (4 MB splits, 3 reps per
        # headline query) and moved nothing -- local wall time is
        # dominated by per-job fixed overhead, not scan parallelism --
        # so the cluster-correct 128 MB default stands.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple] | pa.Table, schema: StructType | str
) -> DataFrame:
    """A driver-built table as a LocalRelation.

    ``spark.createDataFrame(list)`` parallelizes the rows into a Python
    RDD, so every action on the frame runs Python-worker tasks (about
    0.3 s a job on 4 cores, even for an empty list). A ``pyarrow.Table``
    input becomes a LocalRelation instead, which collects without a job.
    ``schema`` is a StructType or a DDL string; the arrow input carries
    its types, since the arrow path ignores a DDL schema. ``rows`` is a
    list of tuples, or a ``pyarrow.Table`` already in column form (cast
    to ``schema``) for frames too large to build row by row."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.cast(arrow_schema)
    else:
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=arrow_schema
        )
    return spark.createDataFrame(table, schema)
