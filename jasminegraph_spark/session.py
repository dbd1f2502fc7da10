"""SparkSession factory tuned for both local test runs and cluster scale.

Local mode is a single JVM; on a real cluster the same configs hold:
AQE handles skew + partition coalescing at runtime, shuffle partitions are
sized from the parallelism env var, and Arrow is on for any Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "jasminegraph_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the session.

    Honors:
      SPARK_GRAFT_CPUS   — local[<n>] parallelism (default: all cores)
      SPARK_MASTER       — override master URL entirely (cluster deploys)
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_parts = os.environ.get(
        "SPARK_SHUFFLE_PARTITIONS", str(os.cpu_count() or 32) if cpus == "*" else cpus
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TPCH_TABLES = (
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


_SPREAD_MEMO: dict = {}


def spread_scan(df, key=None, by=None):
    """Scan-parallelism guard (r11): the local testdata parquet files
    carry a SINGLE row group each, so a plain scan — and every map-side
    stage above it (explodes, regex passes, partial aggregation) — runs
    as ONE task regardless of maxPartitionBytes (the row group is the
    atomic split unit). When the scan yields fewer partitions than the
    session parallelism, insert a repartition; Catalyst still pushes
    filters and column pruning below the exchange into the scan. At
    cluster scale inputs arrive in many splits and this is a no-op
    (decision memoized under ``key`` when given).

    ``by`` (r14, guide §2.4/§2.5): spread by HASH of that column instead
    of round-robin. When the consumer's first wide op groups/dedups on
    that key, the spread exchange doubles as the aggregation exchange —
    the downstream ENSURE_REQUIREMENTS exchange disappears and so does
    round-robin's hidden sortBeforeRepartition local sort. Same
    spread-or-not decision; only the partitioner changes."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    spread = _SPREAD_MEMO.get(key) if key is not None else None
    if spread is None:
        spread = df.rdd.getNumPartitions() < par
        if key is not None:
            _SPREAD_MEMO[key] = spread
    if not spread:
        return df
    return df.repartition(par, by) if by is not None else df.repartition(par)


# Tables whose downstream work is row-wise heavy (text pipelines, vector
# math) — the scan spread pays for itself there. Cheap
# relational scans skip it: the exchange costs more than the single-core
# map work it parallelizes (measured r11: rel_events_hourly 0.25→0.55 s
# under a blanket spread vs pl_bigram_logprob 5.9→1.7 s with it).
SPREAD_TABLES = frozenset({"documents", "embeddings"})


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES) -> dict:
    """Load the driver-provided parquet tables as DataFrames.

    Plain ``spark.read.parquet`` — column pruning + predicate pushdown reach
    the scan for free; at cluster scale the same call reads a partitioned
    directory without change.
    """
    out = {}
    for name in names:
        df = (
            read_events(spark, sf_dir)
            if name == "events"
            else spark.read.parquet(f"{sf_dir}/{name}.parquet")
        )
        if name in SPREAD_TABLES:
            df = spread_scan(df, key=(name, sf_dir))
        out[name] = df
    return out


def read_events(spark: SparkSession, sf_dir: str):
    """events.parquet has shipped with ``ts`` as either TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects — read nanos as long and
    floor-convert to micros, matching DuckDB's truncation) or plain
    timestamp[us] (usable as-is). Adapt to whichever the file carries so
    regenerated testdata never breaks the read path."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif isinstance(ts_type, T.TimestampNTZType):
        # Driver compares against DuckDB, which reads parquet timestamps
        # without a zone; keep NTZ but cast to the session-TZ type Spark
        # functions expect (session TZ is pinned to UTC, so values align).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES) -> dict:
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
