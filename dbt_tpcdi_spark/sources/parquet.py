"""Parquet table loaders for the driver-generated testdata.

The testdata layout (TESTDATA.md): one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``. Columnar parquet gives us the
storage properties the reference gets from Snowflake micro-partitions
for free: column pruning, min/max + dictionary row-group pruning and
predicate pushdown (SURVEY.md §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read
    those natively (PARQUET_TYPE_ILLEGAL), so the session sets
    ``spark.sql.legacy.parquet.nanosAsLong`` and we restore
    TimestampType here (truncating ns → µs, which is what DuckDB's
    strftime-to-millisecond comparisons see too)."""
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):  # Spark-written table (part files in a dir,
        # possibly nested under partition key=value subdirectories)
        parts = glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True)
        if not parts:
            return []
        path = parts[0]
    # inspect the parquet-level types, not the arrow view: INT96
    # timestamps (Spark's default write format) surface in arrow as
    # timestamp[ns] too, but Spark reads those natively — only
    # int64-annotated nanosecond columns need the nanosAsLong restore
    schema = pq.ParquetFile(path).schema
    return [
        schema.column(i).name
        for i in range(len(schema))
        if schema.column(i).physical_type == "INT64"
        and "timeUnit=nanoseconds" in str(schema.column(i).logical_type)
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain ``spark.read.parquet`` so Catalyst keeps
    full pushdown/pruning freedom — no eager caching here."""
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    for c in _nanos_columns(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small-file scan across all cores —
    ONLY when the scan is actually under-parallel.

    Below ``maxPartitionBytes`` a single-file table scans as ONE
    partition, so any CPU-heavy projection or explode over it runs on
    one core regardless of session size; locally the repartition is
    the difference between 1× and N× parallelism on the compute
    stage. At real scale the table is many files and already spans
    ≥ defaultParallelism partitions — there the gate below makes this
    a no-op, so production plans never pay a pointless full exchange
    of the widest column just to fix local scan parallelism.
    Downstream results are unaffected either way — every consumer
    re-shuffles on its own keys.

    The under-parallel check is driver-side metadata only: Spark's
    split count is re-derived from the scan's file list + sizes and
    ``maxPartitionBytes`` instead of ``df.rdd.getNumPartitions()``,
    because the DataFrame→RDD conversion costs ~1 s of plan
    translation per fresh lineage (measured on local[32]) — paid by
    every query that loads a table — while ``inputFiles()`` is a
    ~15 ms catalog lookup. Non-file plans (no scan in the lineage)
    fall back to the RDD check."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = _bare_scan_files(df)
    if files:
        max_bytes = max(
            1,
            _size_conf(
                spark, "spark.sql.files.maxPartitionBytes",
                128 * 1024 * 1024,
            ),
        )
        splits = 0
        for uri in files:
            local = uri.removeprefix("file://") if uri.startswith(
                "file://") else None
            if local is not None and os.path.exists(local):
                splits += max(1, -(-os.path.getsize(local) // max_bytes))
            else:
                # remote FS — size unknown driver-side; count the file
                # itself (at scale file COUNT alone crosses the gate)
                splits += 1
        if splits >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# logical nodes under which the scan's file list still determines the
# output partitioning — anything else (Repartition, Join, Aggregate,
# Generate, …) changes partitioning downstream of the scan, so the
# file estimate would lie about it
_NARROW_NODES = frozenset({"Project", "Filter", "Relation",
                           "SubqueryAlias", "View"})


def _bare_scan_files(df: DataFrame) -> list[str]:
    """The scan's file list IF this plan is a bare file scan under
    only narrow per-row nodes; ``[]`` otherwise (caller falls back to
    the RDD partition check). Both probes are driver-side metadata
    (~ms), unlike ``df.rdd`` (~1 s of plan translation)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        for line in plan.splitlines():
            node = line.lstrip(" :+-")
            name = node.split(" ", 1)[0].split("[", 1)[0]
            if name and name not in _NARROW_NODES:
                return []
        return df.inputFiles()
    except Exception:
        return []


_SIZE_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _size_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ("134217728b", "128m", "1g")."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    raw = raw.removesuffix("b")
    if raw and raw[-1] in _SIZE_SUFFIX:
        return int(float(raw[:-1]) * _SIZE_SUFFIX[raw[-1]])
    try:
        return int(raw)
    except ValueError:
        return default
