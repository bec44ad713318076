"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the configs below are chosen so the
same logical plans survive a 1000-executor cluster: AQE on (runtime
coalescing + skew-join splitting), explicit shuffle partitioning, Arrow
for any Python exchange, UTC session time so event-time semantics are
stable across engines (the DuckDB oracle is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Runtime-settable SQL confs: get_spark builds its session with them and
# tune_session applies them to a session built elsewhere.
SESSION_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    # Respect the advisory partition byte size when coalescing instead
    # of padding partition count up to defaultParallelism: the many
    # KB-sized internal shuffles (codebook training, blocklists, probe
    # frames) otherwise launch cpu-count tasks each, pure dispatch
    # overhead here and on a 1000-executor cluster alike. Spark's own
    # tuning guide recommends false; a small advisory size keeps
    # genuinely large shuffles parallel.
    ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
    ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # The fixtures' events.parquet carries TIMESTAMP(NANOS), which the
    # parquet reader rejects unless it reads nanos as long
    # (tables.load_table converts them back to a timestamp).
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)


def get_spark(app_name: str = "nt-etl-order-book-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    # local[N] defaults to the cores this process may run on: each
    # Python-boundary task (mapInPandas, pandas UDFs) pays a fixed worker
    # cost (DEPLOY.md §1), so slots beyond the host's cores only add
    # dispatch (a pass-through mapInPandas over 500 rows: 2.2-2.8 s at
    # local[32] on 4 vCPU, 0.55 s at local[4]).
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    sp = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # GC reliable checkpoint files once their RDDs go out of scope:
        # long-lived sessions running iterative queries (connected
        # components, BPE merges) otherwise leak checkpoint-dir
        # storage for the app lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # No code path reads the Spark UI: plans.profile takes stage
        # metrics from the driver's in-process status store.
        .config("spark.ui.enabled", "false")
        # JVM-wide codegen cache: a round of read-side queries compiles a
        # few hundred classes, and at Spark's default 100 entries every
        # round recompiled them all. Static: tune_session cannot set it.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Streaming checkpoint files renamed with FileSystem.rename: the
        # default FileContext manager stats both ends of every rename via
        # getFileLinkStatus, which without libhadoop forks `readlink` per
        # call. Not in SESSION_CONFS: a session built elsewhere keeps
        # Spark's default checkpoint semantics (DEPLOY.md §1).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
    )
    for key, value in SESSION_CONFS:
        builder = builder.config(key, value)
    return builder.getOrCreate()


def checkpoint_frame(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate lineage with the checkpoint flavor the deployment wants.

    Iterative plans (connected-components label frames, BPE merge
    rounds) must cut their lineage every round or Catalyst re-optimizes
    — and re-runs — the whole accumulated plan under each consumer; a
    frame with several consumers is cut once for the same reason. HOW
    to cut differs by environment:

    - ``sc.setCheckpointDir`` set (cluster reality): reliable
      ``checkpoint()`` to that directory — blocks survive executor loss
      and dynamic-allocation scale-in, which ``localCheckpoint`` blocks
      (pinned to executors) do not.
    - no checkpoint dir (local / tests / single-box): ``localCheckpoint``
      — same lineage truncation without a filesystem round-trip.

    Both flavors leave a ``LogicalRDD`` scan in the plan, so consumers
    are indistinguishable; tests assert that invariant for each.

    Reliable checkpoints persist the frame first — on BOTH the eager and
    the lazy path: Spark writes reliable checkpoint files in a SEPARATE
    job after the first action, so an unpersisted frame would compute
    its whole lineage twice per round (the classic
    persist-before-checkpoint caveat). Eager flavor: the cache is
    dropped synchronously as soon as the checkpoint files exist. Lazy
    flavor: there is no action inside this call to unpersist after, so
    the cached blocks (the lazy callers in bpe, graph, text, eventflow,
    timeseries and aggregates cut frames far narrower than their
    inputs: vocabulary tables, edge lists, per-group stats, narrow
    per-document rows) are released by the ContextCleaner when the
    superseded frame is GC'd on the driver; what matters is that the
    first downstream action fills the cache and the deferred checkpoint
    job reads it instead of re-running the lineage. Checkpoint-file
    garbage collection is the deployment's
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` choice
    (enabled in get_spark's defaults).
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        if eager:
            df = df.persist()
            try:
                return df.checkpoint(eager=True)
            finally:
                df.unpersist()
        return df.persist().checkpoint(eager=False)
    return df.localCheckpoint(eager=eager)


def _scan_split_estimate(df: DataFrame) -> int | None:
    """Scan-task count Spark would plan for ``df``, from its source's
    already-listed FileIndex: FilePartition.maxSplitBytes packing, each
    file charged openCostInBytes, split size min(maxPartitionBytes,
    max(openCost, padded bytes / defaultParallelism)). None unless the
    optimized plan is Project/Filter nodes over exactly one file
    relation."""
    plan = df._jdf.queryExecution().optimizedPlan()
    while plan.nodeName() in ("Project", "Filter"):
        plan = plan.child()
    relation = plan.relation() if plan.nodeName() == "LogicalRelation" else None
    if relation is None or relation.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    index = relation.location()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    max_pb, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    dp = df.sparkSession.sparkContext.defaultParallelism
    padded = index.sizeInBytes() + open_cost * len(index.inputFiles())
    max_split = max(1, min(max_pb, max(open_cost, padded // dp)))
    return max(1, -(-padded // max_split))


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` to defaultParallelism by ``cols`` when it is
    too narrow to feed every core, so CPU-bound per-row work on top of a
    single-split input does not run on one core.

    Contract: on a frame that is already at least defaultParallelism
    wide this is a strict no-op (returns ``df`` itself, adds no
    exchange), which keeps every call site invisible in at-scale plans.
    Callers project to the needed columns first so the exchange, when it
    fires, stays narrow.

    Decision: the width is the file-split estimate above when the
    optimized plan is a narrow pipeline over one file relation, and the
    frame's materialized partition count for any other plan
    (repartitioned, coalesced, joined, aggregated, unioned or non-file
    frames)."""
    sc = df.sparkSession.sparkContext
    est = _scan_split_estimate(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism, *cols)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    The driver hands ``entry(spark)``/``queries()`` a session we did not
    build; align the semantics-affecting knobs (timezone, AQE) without
    restarting the JVM, and ship the package to Python workers so
    pandas-UDF / applyInPandas queries import it regardless of the
    driver's cwd or env.
    """
    if getattr(spark, "_ntspark_tuned", False):
        return spark  # per-session memo: the harness calls this per query
    for key, value in SESSION_CONFS:
        spark.conf.set(key, value)
    _ship_package(spark)
    spark._ntspark_tuned = True
    return spark


def _ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of this package (idempotent, mtime-versioned) so
    executor-side Python workers can import it even when the session was
    created before the package was on any path."""
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "nt_etl_order_book_spark")
    latest = 0
    py_files = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                py_files.append(full)
                # nanosecond mtime: second-granularity would reuse a stale
                # zip when two edits land within the same wall-clock second
                latest = max(latest, os.stat(full).st_mtime_ns)
    import tempfile

    zpath = os.path.join(tempfile.gettempdir(), f"nt_etl_order_book_spark_{latest}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in py_files:
                z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    try:
        if zpath not in (spark.sparkContext._python_includes or []):
            spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # connect-mode or restricted contexts: workers rely on PYTHONPATH
