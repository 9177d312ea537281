"""Table registry: load the star-schema parquet tables and register views.

Parity: reference ``controller/prepare_database.py`` +
``services/read_dataset_function.py`` load datasets into Postgres; here the
lakehouse *is* the store — parquet scanned directly, with column pruning and
predicate pushdown from Catalyst.

Scale notes: scans are declarative (``spark.read.parquet``) so partition
pruning / pushed filters apply; nothing is collected to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def literal_df(spark: SparkSession, rows, schema: str):
    """Small driver-literal DataFrame via the ARROW path (guide §6).

    ``createDataFrame(list_of_tuples)`` builds a Python RDD whose rows are
    re-pickled through the Py4J/socket bridge EVERY TIME a job executes the
    scan — measured ~0.27 s per executed subtree even at 100 rows, paid per
    call by every operator that embeds a literal relation (mask positions,
    IVF probe lists, tuning grids, BPE rules). An Arrow-built frame becomes
    a JVM-local table instead (no per-job Python round-trip).

    ``rows`` is a sequence of tuples matching the DDL ``schema`` ("name
    type, ..."), exactly as the classic ``createDataFrame`` sites passed
    them. Each column becomes an Arrow array of the schema's own type, so
    ``None`` is null in every type and a NaN double stays NaN.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=struct)


def get_spark(app: str = "vectorsearch-rbac-spark", shuffle_partitions: int = 32) -> SparkSession:
    """Local session tuned for the test harness; on a real cluster the
    builder config comes from spark-submit and these are no-ops."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin the session timezone: the DuckDB oracle treats timestamps as
        # naive/UTC, so day/hour bucketing (date_trunc, unix_timestamp, year)
        # must not shift with the host JVM timezone
        .config("spark.sql.session.timeZone", "UTC")
        # streaming progress is ring-buffered; observe()-metric rollups
        # (G10) read per-batch observedMetrics from recentProgress and
        # would silently undercount past the default 100-batch cap
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # scan-split knob, default = Spark's 128 MB. Measured A/B at sf1:
        # smaller splits (16 MB) barely move the warm map-side kernels
        # (their wall is compute, and the pre-cut means little follows
        # the scan) but cost explode-heavy JVM entries ~15-20% in task
        # overhead — so the default stays; the env var exists to size
        # splits so a partition's vectors fit executor memory at larger
        # scale factors.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8g is a MEASURED choice, not a leftover: a 48g heap wins an
        # isolated A/B on the hash-agg-heavy entries (ngram pair-agg 22.3
        # → 13.0 s at sf1 — the big aggregates stop spilling) but LOSES
        # the full 71-entry bench badly (sf1 386.8 vs 359.7 s; ngram
        # warm_max 181 s) — with tens of cached artifacts resident, the
        # large heap accumulates garbage into multi-minute GC stalls,
        # while 8g keeps eviction/spill early and latency flat. On a real
        # cluster executors get their own heaps and this is a no-op.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read nanos as long and truncate to micros (the
        # same truncation DuckDB applies casting ns → its us timestamps).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` works alongside
    the DataFrame API (mirrors DuckDB's pre-registered oracle views)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
