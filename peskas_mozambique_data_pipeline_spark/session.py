"""SparkSession factory tuned for this engine.

The reference pipeline is a single-node eager R dataflow; this engine
targets a multi-executor cluster reading ~100 TB of partitioned Parquet.
The session defaults below are the scale posture:

* AQE on (runtime coalescing, skew-join splitting, broadcast demotion).
* Explicit shuffle partition count sized for the local harness; on a
  real cluster AQE's coalescing makes the initial number a ceiling.
* Arrow enabled so the few Pandas-UDF escape hatches are batch-columnar.
* Broadcast threshold generous: every dimension table in this domain
  (taxa/gear/sites/geo, TPC-H dims) is tiny relative to facts.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# partitioned_checkpoint scopes AQE off for its one producing job; the
# toggle mutates a session-global conf, so concurrent leg builds
# (overlap_builds) must serialize around it or one thread's restore
# could clobber another's scope
_AQE_TOGGLE_LOCK = threading.Lock()


def get_spark(
    app_name: str = "peskas-mozambique-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Parameters are overridable for tests/bench; environment variables
    ``SPARK_GRAFT_CPUS`` controls local parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # NB: do NOT set spark.sql.optimizer.runtime.bloomFilter.* here —
        # toggling those at session build hangs SparkSession.getOrCreate
        # in this Spark 4.1 build (reproduced 2026-08-13); the runtime
        # bloom-filter join pruning they control is default-on anyway
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Per-session table-handle cache (r14, guide §6 "file listing ...
# cached per session"): every registry query used to pay a fresh
# ``spark.read.parquet`` per table reference — file listing + parquet
# footer schema read + plan-construction round-trips, ~0.1 s of pure
# DRIVER time per call, serial and unscaled by executors.  A production
# engine resolves a table through a catalog whose metadata is read once
# per session; this dict is that catalog for the harness's immutable
# parquet dirs.  The cached object is the LAZY scan plan only — every
# action still re-reads the parquet files, so no data or results are
# reused across runs.  Keyed on the session object's identity (a
# stopped/recreated session misses and rebuilds).
_TABLE_CACHE: dict = {}


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one harness parquet table, normalizing physical quirks.

    ``events.parquet``'s ``ts`` physical type has varied across harness
    generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    rejects outright; read under the ``nanosAsLong`` escape hatch and
    floor-divide to micros, exact integer arithmetic matching DuckDB
    ``epoch_ns(ts)//1000``) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (which Spark infers as TIMESTAMP_NTZ).  Normalize both to the
    session-local TIMESTAMP type: under the pinned UTC session TZ the
    NTZ→LTZ cast is wall-clock-preserving, i.e. the exact naive values
    DuckDB sees.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    # oracle comparisons assume UTC-naive timestamp semantics (DuckDB);
    # pin the session TZ so date casts/truncations of the LTZ events.ts
    # are driver-environment independent (runtime conf — safe to set on
    # a session we didn't create).  Pinned BEFORE the cache-hit return:
    # the pin is load-bearing for every read, not just the first — a
    # mid-session TZ mutation must not silently change cached-read
    # results (ADVICE r14).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (path,)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    _TABLE_CACHE[key] = (spark, df)
    return df


def partitioned_checkpoint(df, *cols, n_parts: int | None = None):
    """``repartition(cols).localCheckpoint()`` that PRESERVES the hash
    partitioning in the checkpointed frame (r15, guide §2.4).

    Under AQE, ``Dataset.checkpoint`` copies
    ``AdaptiveSparkPlanExec.outputPartitioning`` into the LogicalRDD —
    which reports ``UnknownPartitioning`` — so every downstream
    consumer of a checkpointed frame re-exchanges even when the data
    was just shuffled onto exactly the right key (observed in every
    r14 plan capture: ``Scan ExistingRDD … UnknownPartitioning(0)``).
    Scoping AQE OFF for the one checkpoint job makes the LogicalRDD
    carry ``HashPartitioning(cols, n)``, which downstream groupBys /
    windows / joins on ``cols`` (or any SUPERSET of them) satisfy
    without a new Exchange — measured: groupBy over an AQE-on
    checkpoint plans 1 exchange, over this 0.

    The scope is only the producing job: consumers still plan and run
    under AQE.  Results are partitioning-invariant throughout this
    repo (the determinism discipline), so this is physical-only.
    ``n_parts`` defaults to ``defaultParallelism`` — scale-adaptive,
    never a local constant.
    """
    spark = df.sparkSession
    n = n_parts or spark.sparkContext.defaultParallelism
    with _AQE_TOGGLE_LOCK:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = df.repartition(n, *cols).localCheckpoint()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
    return out


def spread_scan(df):
    """Spread a freshly-scanned frame across every core when the scan
    itself cannot (r14, guide §2.5 "repartition immediately after the
    read"): a table that arrives as fewer files than cores executes its
    scan — and EVERY per-row projection above it, up to the first
    exchange — in that many tasks, so expression-heavy pipelines
    (tokenization, hashing, array math over documents/embeddings)
    serialize on a handful of cores.  Scale-adaptive by construction:
    with at least as many input files as cores the scan already
    parallelizes and this is a no-op, so production multi-split reads
    never pay the extra exchange; only small-file inputs (the local
    harness's one-file tables, a straggler partition of a landing
    zone) get the round-robin spread.  Column pruning and predicate
    pushdown pass through a Repartition node, so the scan below still
    prunes.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < n:
        return df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the harness parquet tables under ``sf_dir`` into a dict and
    register each as a temp view (mirrors the reference's stage handoff
    of named Parquet datasets, R/preprocessing-surveys.R:69-74)."""
    names = names or (
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
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def overlap_builds(*thunks):
    """Build INDEPENDENT query legs concurrently (guide §2.6).

    Eager materializations (localCheckpoint jobs) inside a query build
    run sequentially when the legs are built one after another, leaving
    most cores idle through each job's tail.  For union rows whose legs
    share no frame, submitting the leg builds from a small thread pool
    lets Spark's scheduler back-fill: leg B's checkpoint tasks run on
    the cores leg A's straggler tasks freed.  Results are identical by
    construction — each leg runs the exact same jobs, only their wall
    clocks overlap (the one session-global conf toggle,
    partitioned_checkpoint's AQE scope, is serialized by
    ``_AQE_TOGGLE_LOCK``).

    Spark keeps job group and description in JVM thread-local
    properties, which a plain pool thread does not carry over: each
    thunk is therefore wrapped with ``inheritable_thread_target``, so
    the leg jobs run under the caller's job group and description and
    are attributed to the query that built them.

    Returns the thunk results in argument order.  With one thunk it
    degrades to the sequential build.
    """
    if len(thunks) == 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        return [f.result() for f in futures]
