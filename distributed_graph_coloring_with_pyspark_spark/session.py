"""SparkSession factory tuned for this engine.

The reference hand-configures Kryo, 1-core executors and
``spark.default.parallelism=1`` (coloring.py:190-198); under the
DataFrame engine all of that is obsolete — Tungsten UnsafeRow replaces
Kryo-pickled Python objects and AQE sizes shuffles at runtime. We pin:

- AQE on (runtime broadcast conversion, skew-join splitting, partition
  coalescing) — the scale path for 100 TB joins.
- ``spark.sql.session.timeZone=UTC`` — Spark timestamps are session-TZ
  while DuckDB's (the correctness oracle) are UTC-naive.
- Arrow on — every Pandas-UDF boundary is Arrow-batched.
- shuffle partitions default to local core count; on a real cluster this
  is overridden (AQE coalesces down, so a high initial value is safe).
- ``spark.python.daemon.module`` is the package's ``worker_daemon``:
  PySpark's daemon, whose workers re-read a zip archive on the Python
  path only when it changed, instead of all of them on every task.
  Worker Python must therefore import this package (cwd or
  ``PYTHONPATH``), as by-reference pickles of its functions already
  require.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dgc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned local session.

    On a real cluster, master/memory come from spark-submit; everything
    set here is safe to keep.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
        # default; read as long nanos and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_session_caches(spark: SparkSession) -> dict[str, int]:
    """Drop every per-session artifact this engine keeps (``cache.py``'s
    store and text_dedup's e2e index dirs) in one call.  Long-lived
    sessions (the bench harness, a notebook running many query
    families) use this between families so one family's warm state
    can't flatter or starve the next; it is idempotent and safe on a
    cold session.  Returns {namespace: entries_released} for
    observability."""
    import gc

    from .cache import release
    from .operators.text_dedup import clear_incremental_e2e_index

    released = release(spark)
    released["e2e_index_dirs"] = clear_incremental_e2e_index(spark)
    # Long-session hygiene (r6): iterative queries leave localCheckpoint
    # RDD blocks that Spark's ContextCleaner can only reclaim after the
    # driver-side py4j references are garbage collected — CPython's
    # generational GC defers that in a long session, so block storage
    # ratchets up and later queries pay for earlier ones (measured in
    # bench.py: the flagship coloring at 7.9 s late-session vs its
    # 3.9 s isolated floor).  A release point is exactly when a caller
    # wants the session clean, so drain the ref graph here too.
    gc.collect()
    return released
