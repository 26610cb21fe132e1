"""SparkSession factory tuned for the engine.

Local mode is the test bed; configs are chosen so the same code paths scale
to a multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (exact oracle comparison and
the reference's UTC normalization — see SecondaryPersistence.scala:105-108
in the reference), Arrow on for the Pandas-UDF slow path.

The driver JVM runs the serial collector, trims its native heap every
second and keeps two JIT compiler threads (``DRIVER_JAVA_OPTIONS``),
chosen on the benchmark's service: a 1 GB driver heap on a 4-core box.
Under the JVM defaults (G1, three compiler threads) the JVM is most of
the service's resident memory: in a 400 s run G1 grew the heap to
~600 MB committed for ~100 MB live, where the serial collector kept it
at 243 MB. Peak service RSS on ``serve_ingest`` (16 s runs): median
1109 MB with the defaults; ~840 MB serial; ~780 MB serial + trim; median
758 MB with all three (748-790 over 10 runs). C1-only compilation saved
~60 MB more; it is left out because it drops C2's code for the
long-running JVM work, and its speed here could not be told from noise.
Spark start, the warehouse load, read latency and ingest freshness did
not move. The cost is the serial collector's single-threaded pauses:
the context cleaner's 5-minute ``System.gc()`` took 258 ms under load
(123 ms under G1).

The options go in ``spark.driver.defaultJavaOptions``, so a caller's
``spark.driver.extraJavaOptions`` is added to them instead of replacing
them. They take effect only when this call launches the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

DRIVER_JAVA_OPTIONS = (
    "-XX:+UseSerialGC -XX:TrimNativeHeapInterval=1000 -XX:CICompilerCount=2"
)


def get_spark(
    app_name: str = "data_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # ---- planning / optimizer ----
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # at 100 TB, broadcast threshold matters: dims (region/nation/tenant)
        # stay broadcastable; AQE converts to broadcast at runtime too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ---- serving vs ingest isolation ----
        # FAIR scheduling so a long ingestion tick cannot convoy the
        # serving path's short jobs (the reference isolates them with two
        # HikariCP pools — application.conf:66-109; Spark's analogue is
        # scheduler pools). Threads opt in via
        # sc.setLocalProperty("spark.scheduler.pool", "serving"|"ingest")
        # (service.py / api/http.py); untagged work lands in the default
        # pool and behaves exactly as before.
        .config("spark.scheduler.mode", "FAIR")
        # ---- correctness ----
        .config("spark.sql.session.timeZone", "UTC")
        # exact decimal semantics for money (reference uses BigDecimal.exact)
        .config("spark.sql.decimalOperations.allowPrecisionLoss", "false")
        # parquet TIMESTAMP(NANOS) is unsupported as a timestamp — surface it
        # as long; the catalog converts to µs timestamps (matching DuckDB's
        # ns→µs truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamps without isAdjustedToUTC (plain timestamp[us])
        # must read as TIMESTAMP_LTZ in the UTC session, not TIMESTAMP_NTZ:
        # time arithmetic (unix_micros, windows) is typed for TIMESTAMP, and
        # DuckDB reads the same column as naive-UTC, so LTZ+UTC session gives
        # bit-identical epoch math across both engines.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # ---- python boundary ----
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ---- local-mode hygiene ----
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        # collected results cap: 1g (Spark's default) aborts any query whose
        # materialized output outgrows the fixture it was sized on — at the
        # sf100 scale study, sessionize's per-session rows alone exceed it.
        # 4g fits the 16g default heap; scale runs override both via env.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_DRIVER_MAX_RESULT_SIZE", "4g"),
        )
        # partition discovery: above this many paths Spark LISTS VIA A JOB
        # (default threshold 32). The (tenant, month) fact layout holds
        # ~2100 hive dirs, so with the default every fresh read — and the
        # ingest tick reads per MERGE — schedules a 1000-task listing job
        # that queues behind real work (measured: the serving bench's
        # monster first tick convoyed every request behind listing jobs,
        # p50 80 s). Local/POSIX listing of thousands of dirs is
        # milliseconds on the driver; a cluster against an object store
        # should lower this again (env override).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD", "8192"),
        )
        # long-lived sessions (the 330-test suite, a serving daemon) leak
        # heap through out-of-scope broadcasts/shuffles until the cleaner's
        # periodic GC fires — default 30min is longer than many runs; 5min
        # keeps the driver JVM trimmed (the round-4 flake was heap-shaped)
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
