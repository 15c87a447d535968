"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what the cluster profile would be at scale:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to cores rather than the
200-partition default, Arrow enabled for the pandas boundary, and the
session timezone pinned to UTC so results are oracle-comparable
(DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pos_api_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every conf here is cluster-relevant, not a local hack:
    - AQE + skew-join handles hot keys (e.g. a viral receipt/user id)
      without manual salting in the common case.
    - ``autoBroadcastJoinThreshold`` stays at default; dimension joins
      additionally carry explicit ``F.broadcast`` hints in operators.
    - ``session.timeZone=UTC`` keeps timestamp semantics deterministic
      across engines and clusters.
    - Without ``master``, the session runs ``local[N]`` with N the
      cores this process may use (``SPARK_GRAFT_CPUS`` overrides), and
      shuffle partitions default to the same N: more task threads
      than cores only time-slice them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter injection: build a bloom filter from the
        # filtered dimension side and push it into the fact scan —
        # prunes row groups before the join at 100 TB; harmless locally.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: the driver heap IS the executor
        # memory; size it for every task thread's shuffle state.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Broadcast creation serializes task results through the
        # driver; the 1g default trips on legitimately-sized (tens of
        # MB per partition) broadcast builds at the sf10 probe scale.
        # Scoped via env (sf10 probe scripts export it) instead of a
        # global 4g: raising it for every session would weaken the
        # collect-size guard suite-wide — a runaway collect in any
        # query could eat 4g of driver heap before erroring.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "1g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_parquet(spark: SparkSession, path: str):
    """Read parquet, tolerating TIMESTAMP(NANOS) columns.

    Spark's vectorized reader rejects parquet nanosecond timestamps
    (PARQUET_TYPE_ILLEGAL). For files that carry them we flip the
    ``nanosAsLong`` legacy conf, read the nanos as int64, and convert
    to microsecond timestamps explicitly — all columnar, no UDF.
    pyarrow only inspects the footer (cheap at any scale).
    """
    import pyarrow.dataset as ds
    import pyarrow.types as pat
    from pyspark.sql import functions as F

    schema = ds.dataset(path).schema
    nano_cols = [
        name
        for name, typ in zip(schema.names, schema.types)
        if pat.is_timestamp(typ) and typ.unit == "ns"
    ]
    if not nano_cols:
        return spark.read.parquet(path)
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        for c in nano_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver testdata parquet tables as DataFrames.

    Returns a dict name -> DataFrame. Reads are lazy; Catalyst prunes
    columns/partitions per downstream query.
    """
    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}
