"""SparkSession factory with the configs this engine assumes.

Every knob here is chosen for the 100 TB / 1000-executor target and then
scaled down for local testing:

- AQE on (runtime shuffle coalescing + skew-join splitting).
- Arrow execution on (all our Python is vectorized pandas UDFs).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden to ~2-3x total executor cores.
- Broadcast threshold left at default: our small dims (term_stats for a
  query's terms, the query-term set itself) are tiny and broadcast
  explicitly with ``F.broadcast``.

Driver-side tables on the query path (query terms, expansion lists,
collected top-k rows) are built with ``local_table``, which Spark plans
as a JVM local relation rather than an RDD scan.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to local[$SPARK_GRAFT_CPUS]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # CPU-heavy pandas-UDF stages need splits sized for CORES, not
        # IO: the 128 MB default collapsed a 150 MB corpus into 6 scan
        # tasks, idling 2 of 8 cores for the whole extraction stage and
        # capping measured scaling efficiency at ~0.75. 16 MB keeps
        # small corpora parallel; at 100 TB the split count is huge
        # either way and a cluster deployment can raise it back.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


@functools.lru_cache(maxsize=None)
def _ddl_schemas(ddl: str):
    """(StructType, Arrow schema) of a DDL string, parsed once: the
    parse is a JVM round trip."""
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def local_table(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A DataFrame of driver-side `rows` (tuples in `ddl` column order)
    that Spark plans as a JVM `LocalRelation` (`LocalTableScan`).

    `createDataFrame(list, ddl)` plans a `LogicalRDD` instead (`Scan
    ExistingRDD`): every action that reads it — the broadcast of a
    three-row query-term table included — runs an extra Spark job over
    the pickled rows. Going through a `pyarrow.Table` ships the rows to
    the JVM once, at creation, and the planner sees their size and
    contents. Empty `rows` give an empty `LocalTableScan`.
    """
    import pyarrow as pa

    struct, schema = _ddl_schemas(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    return spark.createDataFrame(table, struct)
