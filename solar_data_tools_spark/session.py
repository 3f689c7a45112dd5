"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; on a real cluster the same settings
(AQE, skew-join handling, partition-size caps) are what you would want at
100 TB — nothing here is local-mode-specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "solar-data-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults follow the env contract of this repo's bench/test harness:
    ``SPARK_GRAFT_CPUS`` controls local parallelism.

    Settings rationale (100 TB design notes):

    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
      replaces hand-tuned partition counts when data volume varies 1000x.
    - ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: parquet
      scan tasks stay memory-bounded regardless of total input size.
    - Arrow enabled: every solver-layer ``applyInPandas`` crosses the
      JVM->Python boundary via Arrow batches, not pickled rows.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: no minPartitionSize override. CPU-heavy grouped-map
        # (solver) stages keep their parallelism because grouped_apply
        # and fit_seasonal_quantile use repartition(n, keys), whose
        # REPARTITION_BY_NUM hint AQE never coalesces (verified by
        # tests/test_plan_audits.py::test_grouped_apply_survives_aqe);
        # relational stages get normal small-partition coalescing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep them explicit so a misconfigured cluster can't silently
        # disable the fast path.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Spark 4 infers naive parquet timestamps (timestamp[us], no tz) as
        # TIMESTAMP_NTZ, which breaks every unix_micros()/unix_timestamp()
        # call site. Session tz is pinned UTC, so reading naive stamps as
        # TIMESTAMP (UTC instant) is semantically identical to the
        # reference's pandas-naive handling. read_table() additionally
        # casts defensively in case this conf is missing on a shared session.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # r13 (guide §7.3 driver overhead): PySpark 4 wraps every
        # DataFrame/Column API call with error-context capture — a
        # Python stack walk plus one extra py4j round trip
        # (PySparkCurrentOrigin) PER CALL. On plan-build-heavy queries
        # that is pure driver latency at any scale (measured: ~0.2 s
        # of q182's warm build); the only cost of disabling it is less
        # precise user-code line numbers in error messages, which this
        # engine's raise_error guards don't rely on. NOTE (ADVICE r13):
        # PySpark caches is_debugging_enabled PROCESS-globally on the
        # first DataFrame API call (pyspark/errors/utils.py), so this
        # builder conf only takes effect when get_spark creates the
        # process's FIRST session — on a pre-existing shared session it
        # is a silent no-op, like the other builder confs here.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # r14 (guide §1.2 step 2 — per-task work): HotSpot EXCLUDES
        # methods over 8000 bytecodes from JIT compilation by default
        # (-XX:DontCompileHugeMethods), and Catalyst cannot split a
        # single wide expression tree across generated methods — the
        # 64-term MinHash verify predicate compiles into one ~25 KB
        # method (measured via CodegenMetrics; join conditions and
        # consume chains inline it), which therefore runs INTERPRETED
        # forever on every candidate row. Allowing the JIT to compile
        # huge methods is a per-ROW executor win at scale: a 5M-row
        # volume probe of the verify join shape measured 3.58 us/row
        # (default) vs 0.27 us/row warm — 13x — BUT C2's compile cost
        # is superlinear in method size, and on a short-lived toy-scale
        # session the compiler threads chewing several 25 KB methods
        # contend with the 32 task threads for the whole run (measured:
        # interleaved full-bench pairs read ~2x slower with the flag
        # always-on). Production guidance (OPTIMIZATION_r14.md): set
        # SPARK_GRAFT_JIT_HUGE=1 on long-lived clusters, where billions
        # of candidate rows amortize the one-time compile 13x over;
        # local/bench default stays off so short sessions and the
        # driver's bench remain comparable.
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_JIT_HUGE", "") == "1":
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods",
        ).config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods",
        )
    return builder.getOrCreate()


# Per-session DataFrame (plan) cache for read_table — r14 (guide §7.3,
# "driver-side work"): building a table's DataFrame costs a pyarrow
# footer sniff + a JVM parquet schema read + the NTZ normalization walk
# PER CALL, and every registry query calls read_table per plan build —
# measured 100-200 ms per table per build, ~3 s/rep across the headline
# bench (q02 alone reads 5 tables = ~0.6 s of its 0.9 s driver gap).
# This caches the lazy PLAN object only: every action still scans the
# parquet files — no data, no results, nothing persisted across
# executions. The cache lives on the SparkSession object itself, so a
# stopped or recreated session can never serve a stale plan, and the
# session -> plan -> ``df.sparkSession`` cycle is freed with the session
# (a module-level map keyed by session would pin every session its
# plans reference). Callers reading a path whose FILE SET mutates
# within one session (appended partitions) should pass cache=False,
# since a DataFrame pins its file listing at creation (the standard
# Spark path-read behavior this helper wraps).
_READ_TABLE_CACHE_ATTR = "_sdt_read_table_cache"


def read_table(spark: SparkSession, path: str, cache: bool = True):
    """Read a parquet table, tolerating nanosecond timestamp columns.

    Spark has no TIMESTAMP(NANOS) type; with the ``nanosAsLong`` legacy
    flag the column arrives as LONG nanoseconds and is converted to a
    microsecond timestamp with exact integer division (``DIV`` — double
    division would round, diverging from single-node engines that
    truncate ns -> us).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if cache:
        per_session = vars(spark).setdefault(_READ_TABLE_CACHE_ATTR, {})
        hit = per_session.get(path)
        if hit is not None:
            return hit

    ns_cols: list[str] = []
    try:
        import pyarrow.parquet as pq

        arrow_schema = pq.ParquetFile(
            path if not path.startswith("file:") else path[5:]
        ).schema_arrow
        ns_cols = [
            f.name for f in arrow_schema if str(f.type).startswith("timestamp[ns")
        ]
    except Exception:
        pass  # directory datasets / remote paths: fall back to plain read

    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for name in ns_cols:
        if name in df.columns and isinstance(df.schema[name].dataType, LongType):
            df = df.withColumn(
                name, F.timestamp_micros(F.expr(f"`{name}` DIV 1000"))
            )
    # Defensive NTZ normalization: naive parquet timestamps must surface as
    # TIMESTAMP (UTC session tz) so unix_micros()/window exprs resolve. The
    # cast is wall-clock-preserving under a UTC session tz, matching the
    # reference's pandas-naive semantics (time_axis_manipulation.py:270-311).
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    for name in ntz_cols:
        df = df.withColumn(name, F.col(name).cast(TimestampType()))
    if cache:
        per_session[path] = df
    return df


def materialize_df(df, mode: str = "local", eager: bool = False):
    """Materialize a DataFrame that a plan fans out to several consumers
    (or that an iterative loop rebuilds every round), truncating its
    lineage so the upstream chain executes once. The MODE is the
    fault-tolerance contract — pick it by where the job runs:

    * ``"none"``     — return ``df`` unchanged. Pure lazy plan; the
      plan-audit hook (audits need the full lineage visible) and the
      right choice when there is exactly one consumer.
    * ``"local"``    — ``localCheckpoint`` to executor-LOCAL blocks at
      ``StorageLevel.DISK_ONLY`` (a cached fleet-scale grid competing
      for unified memory OOMed a vanilla 1g session at sf0.1 — r11).
      Fast (no DFS round-trip) and the right default on local[k] or a
      dedicated cluster — but NOT fault-tolerant: Spark cannot
      recompute past a localCheckpoint, so losing ONE executor
      (preemption, OOM kill) makes its blocks unrecoverable and fails
      the JOB. Failure mode is job-retry, never a wrong answer.
    * ``"reliable"`` — ``DataFrame.checkpoint()`` into the session's
      checkpoint directory (``spark.sparkContext.setCheckpointDir`` —
      an HDFS/S3/DFS path on a real cluster). Blocks are re-read from
      the DFS after executor loss, so long fleet jobs on preemptible
      nodes complete without a retry. Costs one DFS write; use for
      cluster-scale runs where a mid-job executor loss is expected,
      not exceptional (VERDICT r11 item 3).

    ``eager=False`` defers only the final stage: the checkpointed rows
    are written by the first action that reads them. It is not free at
    call time — under AQE, building the checkpoint's RDD runs every
    upstream shuffle stage of ``df`` immediately, so the jobs that
    feed a shuffle run even if no consumer ever executes.
    """
    if mode == "none":
        return df
    if mode == "local":
        from pyspark.storagelevel import StorageLevel

        return df.localCheckpoint(
            eager=eager, storageLevel=StorageLevel.DISK_ONLY
        )
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "materialize_df(mode='reliable') needs a checkpoint "
                "directory: call spark.sparkContext.setCheckpointDir("
                "'<DFS path>') first (an HDFS/S3 path on a cluster; any "
                "local dir under test)"
            )
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"unknown materialize mode {mode!r} "
        "(expected 'none' | 'local' | 'reliable')"
    )


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Register the synthetic parquet tables under ``sf_dir`` as temp views.

    Returns a dict name -> DataFrame. Views let operators be written either
    as DataFrame chains or ``spark.sql`` against the same names the DuckDB
    oracle sees.
    """
    if names is None:
        names = (
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
    out = {}
    for name in names:
        df = read_table(spark, f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
