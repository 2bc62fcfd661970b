"""SparkSession factory with scale-oriented defaults.

The reference ships tuned Spark conf presets for its generated
Glue/EMR jobs (reference ``src/intelliflow/utils/spark.py:80-158``:
AQE + skew-join on, shuffle-push, parallel partition discovery).  We
keep the same intent — AQE and skew handling on by default — but let
Catalyst keep broadcast joins enabled (the reference disables them on
its big-node presets; on a balanced cluster broadcasting small dims
is the right default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for correctness at any scale and good behavior at
# 100 TB: AQE re-plans partition counts / skew at runtime, so a fixed
# shuffle.partitions only sets the ceiling pre-AQE.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # r15: the r14 64 KB coalescing floor is GONE.  It was added so
    # AQE would not coalesce the |cell|²-expanding salted pair joins
    # (icp_order, semantic_dup_pairs) down to 1-4 tasks, but a global
    # floor taxes EVERY small shuffle with full-width tiny tasks —
    # measured on dedup_winnow_spans (six small exchanges in sequence):
    # 6.7-8.1 s with the floor vs 4.1-4.2 s at the 1 MB default, the
    # r14 round's only real regression.  The pair joins now keep their
    # own width through the salt itself: ``salt=None`` derives it from
    # 4x cluster width over k (capped at 32), and the b-side explode
    # multiplies the salted exchange's bytes enough that AQE's default
    # byte-based coalescing leaves it wide (see semantic_dup_pairs /
    # icp_order).  No explicit repartition pins the width, so default
    # coalescing applies everywhere.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Mirrors HIGH_THROUGHPUT_SPARK_AQE_CONFIGS (reference utils/spark.py:94-102)
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + aggressive pushdown are Spark
    # defaults; make them explicit so a misconfigured base session
    # can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # parallelPartitionDiscovery.threshold stays at Spark's 32: the reference's =1
    # (utils/spark.py:89) adds a listing job to each multi-path read (a route event
    # 13 → 14 jobs; an idle file stream ~43 per 3 s).  Opt in via extra_confs.
    # ContextCleaner only reclaims broadcast/shuffle/cache blocks when
    # the DRIVER JVM garbage-collects, and a large mostly-idle heap can
    # go hours without a full GC — accumulated blocks then degrade
    # long-lived sessions superlinearly (measured here: the same query
    # run 8x in one JVM went 4 s → 167 s with the default 30min
    # interval; stable at ~4 s once GC runs between queries).  One
    # minute keeps multi-query drivers healthy and costs one concurrent
    # mark-sweep per minute on an idle heap.
    "spark.cleaner.periodicGC.interval": "60s",
    # The generated-class cache (Janino compile results) holds only 100
    # entries by default; a session that runs a large query surface
    # (this engine's bench alone plans >1000 distinct codegen units per
    # pass) evicts and recompiles every unit on every pass, charging
    # 50-300 ms of driver-side compile per unit per query.  Compiled
    # classes are small; 5000 entries is a few hundred MB ceiling at
    # worst and turns repeat plans into cache hits on any long-lived
    # session, local or cluster.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # PySpark 4's DataFrame-API error enrichment does THREE py4j
    # round-trips (a conf read + PySparkCurrentOrigin set/clear) plus a
    # Python stack walk on EVERY decorated DataFrame call, purely to
    # stamp errors with the user-code line.  On the composed-pipeline
    # builders that is most of the construction chatter — measured:
    # pipeline_pretrain_corpus construction 8041 → 3581 round-trips
    # (−55%) with it off.  The cost is flat per-call driver latency at
    # ANY data scale (guide §5); the only loss is the call-site line in
    # error messages, which tests/oracles never rely on.  Re-enable via
    # extra_confs for interactive debugging.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Parquet TIMESTAMP(NANOS) (pandas/pyarrow default) is otherwise an
    # illegal type for Spark's reader; read as long and let the loader
    # normalize to TimestampType (see sources/io.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Dynamic partition pruning is pure driver-side cost in this
    # engine: every source is path-addressed parquet (the ANN hive
    # `cell=` layout is read as an explicit directory list, never
    # pruned through a join), so the rule has NEVER fired — a
    # RuleExecutor sweep over all 138 benched queries measured 0
    # effective runs.  What it DOES do is walk join-key lineage
    # through deep multi-reference alias chains
    # (PartitionPruning.getPartitionTableScan →
    # findExpressionAndTrackLineageDown → trimAliases), whose
    # substitution tree grows exponentially with chain depth: the
    # robots_gate consent join paid a measured 3.9-4.4 s of
    # PartitionPruning time PER CALL, flat and data-independent
    # (sf0.001 ≡ sf1).  A deployment that joins hive-partitioned
    # fact tables on their partition columns should re-enable via
    # extra_confs / SPARK_GRAFT_DPP=true; for this engine's operator
    # surface the rule is all cost, no benefit, at ANY scale.
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": os.environ.get(
        "SPARK_GRAFT_DPP", "false"
    ),
}


def get_session(
    app_name: str = "rheoceros_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster pass ``None`` with a pre-set master or use
    ``spark-submit``.  ``shuffle_partitions`` defaults to 2x the local
    core count (AQE coalesces down) or 200 on a cluster.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    if shuffle_partitions is None:
        if master.startswith("local"):
            n = os.cpu_count() or 8
            shuffle_partitions = max(2 * n, 32)
        else:
            shuffle_partitions = 200
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master.startswith("local"):
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
