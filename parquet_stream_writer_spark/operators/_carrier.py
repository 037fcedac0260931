"""Session-scoped bucketed-carrier tables for iterative operators.

Iterative graph queries (``pipeline.graph_pagerank_bipartite``,
``staged.graph_label_propagation``) amortize a one-time bucketed+sorted
table write across their rounds: every per-round join then reads the
bucketed scan with no exchange and no sort on the heavy side.  The
original inline implementation had three lifecycle bugs (ADVICE r7):
``shutil.rmtree`` on the parsed warehouse path only cleared orphaned
locations on local filesystems, the managed table was never dropped so
each run leaked one table+dir, and the args-only md5 table name let two
concurrent sessions with equal args drop/overwrite each other's table.

This helper fixes all three:

- **Session-salted names** — the table name embeds the Spark
  ``applicationId``, which is unique per session, so concurrent
  sessions can never collide regardless of their arguments.
- **Bounded lifetime** — at most ONE live carrier table per logical
  key per session: a repeat call drops and recreates (arguments may
  have changed the payload), and ``drop_carrier_tables`` is registered
  via ``atexit`` to drop everything this process created.  The table
  cannot be dropped inside the query itself because the returned plan
  reads it lazily (the driver/caller materializes later) — eager
  materialization would also break the exchange-free plan pins.
- **FS-portable cleanup** — orphaned locations (a crashed run of this
  same process) are removed through the Hadoop FileSystem API, which
  resolves HDFS/S3/file warehouses alike, instead of ``shutil``.
"""

from __future__ import annotations

import atexit
import re

from pyspark.sql import DataFrame, SparkSession

#: logical key -> fully-salted table name created by THIS process.
_LIVE_TABLES: dict[str, str] = {}
#: SparkSession that owns the live tables (for the atexit drop).
_OWNER: dict[str, SparkSession] = {}


def _delete_location(spark: SparkSession, table: str) -> None:
    """Remove ``table``'s would-be managed location via the Hadoop
    FileSystem API (portable across file://, hdfs://, s3a://
    warehouses) — belt-and-suspenders for a crashed prior run of this
    same process; a DIFFERENT session can never own the path because
    the name is applicationId-salted."""
    try:
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if not wh:
            return
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/" + table)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(path, True)
    except Exception:
        pass  # best-effort: saveAsTable(mode=overwrite) is the real gate


def drop_carrier_tables() -> None:
    """Drop every carrier table this process created (atexit hook;
    also callable from tests)."""
    for key, table in list(_LIVE_TABLES.items()):
        spark = _OWNER.get(key)
        try:
            if spark is not None:
                spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass  # session already stopped — nothing left to leak into
        _LIVE_TABLES.pop(key, None)
        _OWNER.pop(key, None)


atexit.register(drop_carrier_tables)


def bucketed_carrier(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    *,
    buckets: int,
    bucket_col: str,
) -> DataFrame:
    """Materialize ``df`` as a bucketed+sorted managed table and return
    its scan.  ``key`` identifies the logical carrier (one live table
    per key per session); ``bucket_col`` is both the bucketing and the
    sort column, so downstream equi-joins on it are exchange- and
    sort-free on this side.
    """
    app = re.sub(r"[^0-9a-z]", "_", spark.sparkContext.applicationId.lower())
    table = f"{key}_b{buckets}_{app}"
    prev = _LIVE_TABLES.get(key)
    if prev and prev != table:
        spark.sql(f"DROP TABLE IF EXISTS {prev}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _delete_location(spark, table)
    (
        df.write.bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .saveAsTable(table)
    )
    _LIVE_TABLES[key] = table
    _OWNER[key] = spark
    return spark.table(table)
