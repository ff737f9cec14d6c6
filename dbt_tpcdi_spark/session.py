"""SparkSession factory.

The reference delegates session setup to Snowpark (``get_session``,
reference ``tpcdi.py:10-20``). Here we own the session and pin the
settings that matter for (a) correctness against a DuckDB oracle and
(b) sane behavior from local[32] up to a 1000-executor cluster:

- ``spark.sql.session.timeZone=UTC``: Spark timestamps are session-TZ;
  DuckDB's are UTC-naive. Without this, every timestamp comparison is
  haunted.
- AQE on (default in Spark 3.2+, pinned explicitly): runtime shuffle
  coalescing, skew-join splitting, and dynamic join-strategy switching
  are the main levers that keep the same declarative plan working at
  100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs;
  on a real cluster AQE coalescing makes the static value mostly a cap.
- ``spark.sql.codegen.cache.maxEntries=1000``: one 45-model DAG pass
  compiles ~315 whole-stage classes, and every pass visits them in
  the same order — the worst case for the default 100-entry LRU, so
  each pass re-compiled all of them (314–320 Janino compiles per
  parquet build) and HotSpot re-JITted the fresh classes. With room
  for a whole pass, a warm driver's second and later passes compile
  nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of the host's RAM, capped at 32g. A cap above physical RAM
    ends a long session in a kernel OOM kill of the JVM (observed at
    13 GB RSS on a 15.7 GB host under the old fixed 32g) instead of a
    Spark memory error."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{min(32 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "dbt_tpcdi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so tests, bench.py and the driver all agree.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode driver == the only executor: on the 128 GiB bench
        # host an 8g heap OOMs the x100 ANN probes (shuffle buffers +
        # accumulated localCheckpoint blocks across a long bench run);
        # the cap is not a reservation, but G1 grows the heap toward
        # it before collecting, so it must fit the host's RAM
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Long-running driver hygiene (r14, VERDICT r13 item 3): the
        # ContextCleaner frees shuffle files, broadcast blocks and
        # cached-RDD state only when a JVM GC collects the driver-side
        # reference — and with a 32g heap G1 never runs a full GC on
        # its own (jstat across a 20-min bench: FGC=0, old gen drifting
        # to ~88% — a mixed cycle that finally fired reclaimed 17 GB of
        # DEAD block references, measured 88%→36%). Until then every
        # young collection evacuates survivors into a nearly-full old
        # gen: 1–2.5 s pauses that stall all task threads at once (the
        # "mid-bench transient" — a 102 s wall on a 33 s build trial,
        # attributed in OPTIMIZATION_r14.md). Spark's own knob for
        # exactly this is periodic GC; the 30min default outlives the
        # whole session, so pull it under the accumulation horizon.
        # Scale note: this is driver-heap hygiene, identical on a real
        # cluster's long-running driver; it does not touch executors'
        # data path.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # holds a whole DAG pass (see the module docstring): ~315
        # classes per parquet build, ~340 + 48 + 36 for a versioned
        # bootstrap plus Batch2/3 landings
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # testdata events.parquet stores TIMESTAMP(NANOS), which Spark
        # refuses by default; read as long and convert at load
        # (sources/parquet.py restores TimestampType at µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are timezone-naive parquet µs; read them as
        # session-TZ TIMESTAMP (UTC above) rather than TIMESTAMP_NTZ so
        # unix_micros()/interval arithmetic and the DuckDB oracle agree.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin the session settings that a driver-provided session may lack.

    The correctness driver hands us an arbitrary SparkSession; make sure
    timezone and ANSI behavior match what the DuckDB oracle will see.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark


def local_df(spark: SparkSession, rows: list, schema: str):
    """Single-partition DataFrame from DRIVER-LOCAL rows — the cheap
    construction for metadata-sized tables (manifest rows, literal
    thresholds, centroid/codebook tables).

    ``spark.createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` slices, so EVERY job over the result runs
    one (mostly empty) Python/Arrow deserialization task per core —
    measured ~1.4 s per job on local[32], and ~3.6 s with a
    ``coalesce(1)`` on top, for a 45-row table. One explicit
    ``parallelize(rows, 1)`` slice makes the same job ~0.2 s. At
    cluster scale the rule is the same: a driver-literal table should
    be one partition, not one per core."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
