"""SparkSession factory (reference: pandabase/helpers.py:67-81 engine_builder).

The reference turns a connection string into a SQLAlchemy engine; here the
"engine" is a SparkSession configured for this workload:

- UTC session timezone (the reference enforces UTC-only datetimes,
  reference:pandabase/sql.py:98-100,130-136);
- AQE on (runtime re-planning, skew-join handling at scale);
- Arrow transfers on (pandas interop is Arrow-batched, never row-by-row);
- shuffle partitions sized for the local test harness via env, while the
  same code on a real cluster would leave AQE to coalesce post-shuffle
  partitions from a larger initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


MAX_DRIVER_MEM_MB = 20 * 1024


def machine_defaults() -> "tuple[str, str]":
    """The local thread count and driver memory :func:`get_spark` uses
    when ``SPARK_GRAFT_CPUS`` / ``PANDABASE_DRIVER_MEM`` are unset:
    every CPU of the machine, and half its physical RAM capped at 20g
    (the driver JVM shares the machine with the Python driver and the
    page cache)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = min(MAX_DRIVER_MEM_MB, phys // 2 // 2**20)
    return str(os.cpu_count() or 1), f"{mem_mb}m"


def get_spark(
    app_name: str = "pandabase_spark",
    master: str | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    Pass ``extra_conf`` to override any default. Honors
    ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract) and
    ``PANDABASE_DRIVER_MEM`` for the driver memory; either one unset
    takes its :func:`machine_defaults` value.
    """
    default_cpus, default_mem = machine_defaults()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", default_cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(
            master
            or os.environ.get("PANDABASE_SPARK_MASTER", f"local[{cpus}]")
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", os.environ.get("PANDABASE_SHUFFLE_PARTITIONS", cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # read TIMESTAMP(NANOS) parquet (e.g. pandas datetime64[ns] output)
        # as long nanos instead of failing; loaders convert to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # dynamic partition overwrite: upsert rewrites ONLY the hash
        # buckets touched by the incoming batch (see io.py)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # let a join REUSE a subset hash partitioning for
        # co-partitioning: the MERGE/upsert paths shuffle both sides
        # once on the key-DERIVED bucket column and join on
        # (bucket, *keys), which needs Spark to accept
        # hashpartitioning(bucket) for the key superset. The trade is
        # join granularity bounded by distinct bucket count — fine
        # here because the bucket IS the table's layout axis (tables
        # size num_buckets to the data; io.py falls back to the
        # classic full-key-shuffle shape when a session keeps Spark's
        # default true)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.driver.memory", os.environ.get("PANDABASE_DRIVER_MEM", default_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("PANDABASE_WAREHOUSE", "/tmp/pandabase_warehouse"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def engine_builder(con: "SparkSession | str | None" = None) -> SparkSession:
    """URI/engine passthrough parity with the reference's
    ``engine_builder`` (reference:pandabase/helpers.py:67-81): a string
    is treated as a Spark master URL — the Spark analogue of a database
    URI (``local[8]``, ``spark://host:7077``, ``yarn``) — and built
    into a configured session; an existing SparkSession is returned
    unmodified (the reference's "an application should create its own
    engine and pass it" note applies verbatim); None builds the
    default session."""
    if con is None:
        return get_spark()
    if isinstance(con, SparkSession):
        return con
    if isinstance(con, str):
        return get_spark(master=con)
    raise TypeError(
        f"con must be a SparkSession, a master-URL string, or None; "
        f"got {type(con).__name__}"
    )
