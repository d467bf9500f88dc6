"""SparkSession factory tuned for this engine.

Defaults target the driver's local[32] harness but the conf is written for a
real multi-executor cluster: AQE handles runtime re-planning and skew joins,
dimension-table joins auto-broadcast, shuffle partitions track core count
(AQE coalesces the rest), and Arrow is on for every pandas-exchange path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kevinlang_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, pass ``master=None`` with externally-managed deploy
    conf; locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.

    The session sets ``spark.python.sql.dataFrameDebugging.enabled`` to
    ``false``.  With it on (PySpark's default), every Column method and
    ``functions`` call walks the Python stack and records its call site in
    the JVM: ``F.col`` sends 13 Py4J commands instead of 3, and building
    a plan costs about three times the round trips.  The price is that a
    Spark runtime error no longer carries the Python call site of the
    failing expression (its "DataFrame" query context); pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    to get it back.  PySpark reads this conf once per Python process, the
    first time a Column is built, from the session active then: a process
    that built Columns under another session keeps that session's
    setting, whatever this one says.
    """
    # Python workers must resolve this package regardless of the driver's
    # cwd (mapInPandas UDFs pickle module-level functions by reference);
    # added once, and never as an empty entry (which means the cwd)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + path if path else "")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan, skew-join splitting,
        #     post-shuffle partition coalescing (the 100 TB safety net) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep small-but-CPU-heavy shuffles (text scoring, gram building)
        # parallel: the 1 MB default folds a tiny corpus back to one task;
        # parallelismFirst still caps fan-out at defaultParallelism, so a
        # production-scale shuffle coalesces exactly as before
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # --- shuffle/broadcast sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for every pandas UDF / toPandas exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: keep parquet splits near the default 128 MB so a
        #     100 TB table fans out to ~800k tasks, not 8 giant ones ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts) surface as long;
        # sources.load_events converts ns→timestamp explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no per-call call-site capture: it costs each Column built in
        # Python about 10 extra Py4J round trips (see the docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    builder = builder.config("spark.executorEnv.PYTHONPATH", pkg_root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
