"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and merely
scaled down for local[N] testing:
  * AQE on (runtime coalesce + skew-join splitting) — the corpus has a
    deliberate hot entity (~20% of pages), so skewed shuffle handling is load-
    bearing, not decorative.
  * Arrow enabled with a bounded batch size (reference embeds in batches
    <=2048, utilities/common.py:28-33 — same order of magnitude).
  * shuffle.partitions defaults to 2x cores locally; on a real cluster this is
    overridden via spark-submit --conf (bench.py exercises 8 vs 32 cores).
  * C2 compiles only truly hot code: DRIVER_JIT_OPTIONS raises HotSpot's
    tier-4 thresholds 10x, so lukewarm Catalyst/AQE planner code stays at
    C1 while scan, aggregate and join inner loops still reach C2 within a
    stage (in local[N] too, where executors share the JVM). As
    spark.driver.defaultJavaOptions it reaches only the driver on a
    cluster (executors keep HotSpot's defaults) and precedes a caller's
    extraJavaOptions (a later flag wins). Under spark-submit pass it as
    --conf spark.driver.defaultJavaOptions=...: attach_submitted_session
    cannot change the flags of a JVM that is already running.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# JDK 17's tier-4 defaults (5000 / 600 / 15000 / 40000), each x10
DRIVER_JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=50000 "
                      "-XX:Tier4MinInvocationThreshold=6000 "
                      "-XX:Tier4CompileThreshold=150000 "
                      "-XX:Tier4BackEdgeThreshold=400000")

# runtime-settable SQL tuning, set by get_spark and tune_sql_conf alike
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalescer keeps >= defaultParallelism partitions
    # (parallelismFirst) UNLESS that would drop pieces under
    # minPartitionSize — default 1 MB, which collapses a small corpus's
    # shuffles to 1-3 partitions. The stages downstream of those
    # shuffles here are high-FAN-OUT (9 n-gram explodes per token,
    # shingle generators), so bytes-in wildly understates work and a
    # "tiny" shuffle output can feed seconds of near-serial map work
    # (measured: gopher_repetition over sf0.1 ran 8.0 s 1-wide vs
    # 1.7 s 8-wide). 64 KB keeps small inputs cluster-wide; at 100 TB
    # total/parallelism >> 1 MB and the floor never binds.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # keep AQE active for plans that are persist()ed: without this a
    # cached plan is compiled with AQE's runtime re-planning disabled
    # (fixed shuffle partitioning, no broadcast demotion/promotion) —
    # measured 2.5x slower on the node-materialization stage when the
    # tiny result frame is cached for reuse.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # collect_set/collect_list aggregations (the salted node/edge merge)
    # run as ObjectHashAggregate, which silently degrades to SORT-based
    # aggregation after 128 distinct keys per task (the conservative
    # default) — i.e. a full sort of the 2x-triples endpoint stream.
    # The salted merge bounds per-task hash-map entries to (entities
    # present in the task) x salt with set buffers totalling at most the
    # task's input size, so a much higher key threshold is safe and keeps
    # the agg hash-based.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "65536",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(
    app_name: str = "kg-studio-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config(map=SQL_CONF)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.ui.enabled", "false")
        # Shuffle/spill files on tmpfs: this VM's only disk is one shared
        # virtual spindle, so any shuffle-heavy stage is serialized through
        # it REGARDLESS of core count — measured 2.5x on the link stage's
        # salted aggregation at 16 cores (57 s -> 23 s). A real cluster
        # writes shuffle to executor-LOCAL NVMe whose aggregate bandwidth
        # scales with the executor count; tmpfs is the single-box analogue.
        # Override with SPARK_GRAFT_LOCAL_DIR (e.g. a real NVMe mount).
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark-local"))
        .config(map=extra or {})
    )
    spark = b.getOrCreate()
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One-time steady-state session warm-up (guide: initialise heavyweight
    state once, not inside the first measured query). A long-lived cluster's
    executors and Python workers are warm by the time real queries arrive;
    a fresh local session instead charges ~6 s of one-time costs to
    whichever queries happen to run first (measured at sf0.1: first parquet
    scan+agg 2.4 s vs 0.5 s warm — Hadoop FS + codegen init; first
    join+agg 2.4 s — join codegen; first Arrow/pandas stage 4.2 s vs 1.6 s
    — one Python worker FORK per core plus Arrow init). This primes those
    three paths in ~2-3 s at session build, off every query's clock. No
    input data is touched and nothing is cached. Skip with
    SPARK_GRAFT_NO_SESSION_WARM=1 (for callers spinning many short-lived
    sessions; pytest shares ONE session via conftest)."""
    if os.environ.get("SPARK_GRAFT_NO_SESSION_WARM"):
        return
    if spark.conf.get("spark.graft.sessionWarmed", None) == "true":
        return
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    # join + aggregate codegen (broadcast and shuffle paths)
    a = spark.range(0, 1000).selectExpr("id", "pmod(id, 7) as k")
    dim = spark.range(0, 7).selectExpr("id as k", "id * 2 as v")
    a.join(F.broadcast(dim), "k").groupBy("k").count().collect()
    a.join(dim, "k").groupBy("k").agg(F.sum("v")).collect()
    # parquet write/scan machinery (Hadoop FS, footers, vectorized reader)
    d = tempfile.mkdtemp(prefix="spark_graft_warm_")
    try:
        spark.range(0, 256).selectExpr(
            "id", "cast(id as string) as s").write.mode(
            "overwrite").parquet(d)
        spark.read.parquet(d).selectExpr("sum(length(s))").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # fork one Python worker per core + Arrow serialization path, and let
    # each worker pay its numpy/pandas import once here (the vector
    # operators' kernels import both; a reused worker keeps the modules)
    def _w(it):
        # resident in the reused worker afterwards: the vector kernels are
        # pickled by reference, so their first task otherwise imports the
        # operator module (and numpy/pandas under it) once per worker —
        # measured ~1.4 s across 32 workers on the first vector query
        import numpy  # noqa: F401

        try:
            import knowledge_graph_studio_spark.operators.similarity  # noqa: F401
        except ImportError:  # stripped deployment without the package
            pass
        for pdf in it:
            yield pdf

    spark.range(0, n).repartition(n).mapInPandas(_w, "id long").count()
    spark.conf.set("spark.graft.sessionWarmed", "true")


def size_input_splits(spark: SparkSession, path: str) -> int:
    """Set parquet split sizing so a scan of ``path`` yields ~2 tasks per
    core. A table small relative to the 128 MB default packs into a handful
    of splits and every downstream stage pipelined onto the scan loses its
    parallelism (measured 5-8x on the extraction and link stages); a 100 TB
    table never hits the lower clamp and keeps the default. Returns the
    chosen split size in bytes. Session-wide: call immediately before the
    read it is sizing (file sources bind split size at scan planning)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    cores = spark.sparkContext.defaultParallelism
    # ~4 waves of tasks per core: fine enough that one straggling task costs
    # a fraction of a wave (the extraction stage pipelines a Python UDF, so
    # per-task walls vary), coarse enough that per-task overhead stays
    # negligible. Overridable for experiments via SPARK_GRAFT_TASKS_PER_CORE.
    tpc = int(os.environ.get("SPARK_GRAFT_TASKS_PER_CORE", "4"))
    split = int(min(max(total_bytes // (cores * tpc), 1 << 20), 128 << 20))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    return split


def ensure_width(df, min_partitions: int | None = None):
    """Repartition ``df`` UP to cluster width when it arrives narrower —
    never down. The complement of :func:`size_input_splits` for inputs the
    split sizer can't widen (a single-row-group file scans as ONE partition
    at any split size), feeding high-fan-out operators (n-gram explodes,
    shingle generators) whose map-side work runs at the input's partition
    count. At 100 TB the input already exceeds cluster width and this is an
    exact no-op; the partition probe is metadata-only for file scans and
    checkpoints."""
    width = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # exotic plan that refuses RDD conversion — leave it
        return df
    if cur < width:
        return df.repartition(width)
    return df


def attach_submitted_session() -> SparkSession | None:
    """Attach to a spark-submit-launched JVM instead of building one.

    Under ``spark-submit`` the gateway JVM already exists (PythonRunner
    exports PYSPARK_GATEWAY_PORT) and carries the DEPLOYMENT's master,
    executor topology, and memory — a builder that sets .master() here
    would silently override the submitted cluster with local[N].
    Returns None when not running under spark-submit; otherwise the
    attached session with the runtime-settable SQL tuning applied."""
    if not os.environ.get("PYSPARK_GATEWAY_PORT"):
        return None
    spark = SparkSession.builder.getOrCreate()
    tune_sql_conf(spark)
    return spark


def tune_sql_conf(spark: SparkSession, cores: int | None = None) -> None:
    """The runtime-settable subset of get_spark's tuning, for sessions whose
    JVM someone else launched (spark-submit). Master/memory stay with the
    deployment; these are pure SQL confs."""
    cores = cores or spark.sparkContext.defaultParallelism
    if not spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions"):
        # not set by spark-submit --conf: size to the actual cluster (the
        # SQL conf never surfaces an unset key's default "200")
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
    for k, v in SQL_CONF.items():
        spark.conf.set(k, v)
