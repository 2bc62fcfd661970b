"""Materialization, bucketed co-located joins (no exchange) and skew
salting."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import rheoceros_spark
from rheoceros_spark.operators.scale import (
    bucketed_join,
    observed_checkpoint,
    restore_confs,
    salted_aggregate,
    salted_join,
    write_bucketed,
)
from rheoceros_spark.sources.io import load_table


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")  # external table locations; warehouse untouched
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    write_bucketed(li, "li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"], path=f"{wh}/li_b")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"], path=f"{wh}/ord_b",
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        joined = bucketed_join(spark, "li_b", "ord_b", ["l_orderkey"])
        # force non-broadcast so the bucketing is what saves the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        # and the answer matches the plain join
        exp = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == exp
    finally:
        restore_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": prev_bc})
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


class TestEnsureParallelism:
    """The width probe must be bytes-based (splits), not file-count:
    a 100 TB corpus stored as a few thousand multi-GB files scans as
    ~800k maxPartitionBytes-sized splits — repartitioning it because
    ``len(inputFiles())`` < cluster width would insert an avoidable
    full-corpus shuffle ahead of every tokenize/explode operator."""

    def _one_file_corpus(self, spark, tmp_path, rows: int) -> str:
        path = str(tmp_path / "one_file")
        (
            spark.range(rows)
            .select(
                F.col("id"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    def test_one_big_file_is_not_reshuffled(self, spark, tmp_path):
        from rheoceros_spark.operators.scale import ensure_parallelism

        path = self._one_file_corpus(spark, tmp_path, 200_000)
        prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
        # shrink the split size so this modest file stands in for a
        # multi-GB production file under the default 128 MB splits
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "16384")
        try:
            df = spark.read.parquet(path)
            assert len(df.inputFiles()) == 1  # the old probe's trap
            out = ensure_parallelism(df, min_partitions=8)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, (
                "bytes-wide single file was repartitioned anyway:\n" + plan[:800]
            )
            # and the scan genuinely runs wide: Spark splits the file
            assert out.rdd.getNumPartitions() >= 8
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)

    def test_tiny_file_still_fans_out(self, spark, tmp_path):
        from rheoceros_spark.operators.scale import ensure_parallelism

        path = self._one_file_corpus(spark, tmp_path, 50)
        df = spark.read.parquet(path)
        out = ensure_parallelism(df, min_partitions=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan or "exchange" in plan.lower(), (
            "tiny single-split scan must fan out before CPU-heavy work"
        )

    def test_fan_is_idempotent_through_rowlocal_ops(self, spark, tmp_path):
        # composed pipelines (filter funnels) call ensure_parallelism
        # before EVERY per-row stage; a second call through row-local
        # ops must NOT add another full-width shuffle (r14 — the funnel
        # plan carried six RoundRobin exchanges before the fix)
        from rheoceros_spark.operators.scale import ensure_parallelism

        path = self._one_file_corpus(spark, tmp_path, 50)
        df = spark.read.parquet(path)
        once = ensure_parallelism(df, min_partitions=8)
        derived = once.where(F.col("id") % 2 == 0).withColumn(
            "flag", F.length("payload") > 3
        )
        twice = ensure_parallelism(derived, min_partitions=8)
        plan = twice._jdf.queryExecution().logical().toString()
        assert plan.count("Repartition") == 1, (
            "fan through row-local ops must be a no-op:\n" + plan[:1200]
        )
        # a narrower existing fan does NOT satisfy a wider request
        refan = ensure_parallelism(
            ensure_parallelism(df, min_partitions=2), min_partitions=8
        )
        assert (
            refan._jdf.queryExecution().logical().toString().count("Repartition")
            == 2
        )

    def test_shuffled_input_keeps_conservative_fanout(self, spark, sf_dir):
        from rheoceros_spark.operators.scale import ensure_parallelism

        # no input files (in-memory frame): conservative repartition
        df = (
            spark.range(100)
            .groupBy((F.col("id") % 3).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        assert len(df.inputFiles()) == 0
        out = ensure_parallelism(df, min_partitions=64)
        assert "Repartition" in out._jdf.queryExecution().logical().toString()

    def test_wide_checkpoint_is_not_refanned(self, spark, tmp_path):
        # a localCheckpoint'd frame's width is exact and free to read:
        # a checkpoint already at/above cluster width must NOT pay
        # another full-width RoundRobin (at 100 TB that is a full
        # corpus exchange ahead of a row-local stage — VERDICT r14 #4)
        from rheoceros_spark.operators.scale import ensure_parallelism

        ck = spark.range(1000).repartition(8).localCheckpoint()
        assert len(ck.inputFiles()) == 0
        assert ck.rdd.getNumPartitions() >= 8
        out = ensure_parallelism(ck, min_partitions=8)
        assert "Repartition" not in out._jdf.queryExecution().logical().toString(), (
            "wide in-memory frame was reshuffled anyway"
        )
        # ...including through row-local ops on top of the checkpoint
        derived = ck.where(F.col("id") % 2 == 0).select((F.col("id") * 2).alias("x"))
        out2 = ensure_parallelism(derived, min_partitions=8)
        assert "Repartition" not in out2._jdf.queryExecution().logical().toString()

    def test_narrow_checkpoint_still_fans(self, spark, tmp_path):
        from rheoceros_spark.operators.scale import ensure_parallelism

        ck = spark.range(1000).coalesce(1).localCheckpoint()
        assert ck.rdd.getNumPartitions() == 1
        out = ensure_parallelism(ck, min_partitions=8)
        assert "Repartition" in out._jdf.queryExecution().logical().toString(), (
            "single-partition in-memory frame must still fan before CPU work"
        )


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r.l_returnflag: (r.n, r.s)
        for r in salted_aggregate(
            li,
            ["l_returnflag"],
            aggs=[F.count("*").alias("c"), F.sum(F.col("l_quantity").cast("bigint")).alias("q")],
            reaggs=[F.sum("c").alias("n"), F.sum("q").alias("s")],
            salt_n=8,
        ).collect()
    }
    exp = {
        r.l_returnflag: (r.n, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum(F.col("l_quantity").cast("bigint")).alias("s"))
        .collect()
    }
    assert got == exp


def test_salted_join_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    got = salted_join(li, orders, "l_orderkey", salt_n=4).count()
    exp = li.join(orders, "l_orderkey").count()
    assert got == exp


class TestRuntimeFilters:
    def test_bloom_filter_injected_and_results_unchanged(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from rheoceros_spark.operators.scale import enable_runtime_filters, restore_confs

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )

        def join():
            return (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        baseline = {(r.o_orderpriority, r.n) for r in join().collect()}
        prev = enable_runtime_filters(spark)
        # force the sort-merge path the filter exists for
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = join()
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain" in plan.lower()
            assert {(r.o_orderpriority, r.n) for r in df.collect()} == baseline
        finally:
            restore_confs(
                spark, {**prev, "spark.sql.autoBroadcastJoinThreshold": prev_bc}
            )

    def test_bloom_filter_measurably_prunes_fact_rows(self, spark):
        """The plan gate alone ('might_contain' present) doesn't prove
        the filter pays — measure it: rows surviving the bloom filter
        (what enters the fact-side shuffle) must be well below rows
        scanned.  At 100 TB this pre-shuffle reduction IS the win."""
        from pyspark.sql import functions as F
        from rheoceros_spark.operators.scale import enable_runtime_filters, restore_confs

        sf_dir = "/root/testdata/sf0.01"  # enough rows for a stable ratio
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"  # ~1/5 of orders
        )
        prev = enable_runtime_filters(spark)
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # collect() (not a write) so the metrics land on THIS
            # DataFrame's QueryExecution — a write plans its own
            df.collect()

            # walk the executed plan for (a) the lineitem scan's output
            # rows, (b) the might_contain filter's output rows
            root = df._jdf.queryExecution().executedPlan()
            scan_rows = filt_rows = None
            stack = [root]
            while stack:
                n = stack.pop()
                cls = n.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    stack.append(n.executedPlan())
                    continue
                if cls.endswith("QueryStageExec"):  # materialized AQE stage: a leaf wrapper
                    stack.append(n.plan())
                    continue
                if cls == "ReusedExchangeExec":
                    stack.append(n.child())
                    continue
                head = n.toString().split("\n")[0]
                if cls == "FilterExec" and "might_contain" in head:
                    filt_rows = n.metrics().apply("numOutputRows").value()
                if cls == "FileSourceScanExec" and "lineitem" in head:
                    scan_rows = n.metrics().apply("numOutputRows").value()
                it = n.children().iterator()
                while it.hasNext():
                    stack.append(it.next())
            assert scan_rows and filt_rows is not None, "plan nodes not found"
            # urgent orders are ~20% of lineitem rows; bloom FPP adds a
            # little back — require at least a 2x pre-shuffle reduction
            assert filt_rows < scan_rows / 2, (
                f"bloom filter did not prune: scan={scan_rows} filter={filt_rows}"
            )
        finally:
            restore_confs(
                spark, {**prev, "spark.sql.autoBroadcastJoinThreshold": prev_bc}
            )

    def test_restore_round_trips(self, spark):
        from rheoceros_spark.operators.scale import (
            _RUNTIME_FILTER_CONFS,
            enable_runtime_filters,
            restore_confs,
        )

        before = {}
        for k in _RUNTIME_FILTER_CONFS:
            try:
                before[k] = spark.conf.get(k)
            except Exception:
                before[k] = None
        prev = enable_runtime_filters(spark)
        assert prev == before
        restore_confs(spark, prev)
        for k, v in before.items():
            try:
                now = spark.conf.get(k)
            except Exception:
                now = None
            assert now == v


def test_observed_checkpoint_one_job_and_exact_metrics(spark):
    sc = spark.sparkContext
    df = spark.range(0, 1000, 1, 4).select((F.col("id") % 7).alias("k"))
    metrics = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("k").cast("decimal(38,0)")).alias("s"),
    )
    expected = tuple(df.agg(*metrics).collect()[0])
    sc.setJobGroup("observed_checkpoint_test", "observed_checkpoint_test")
    try:
        ck, values = observed_checkpoint(df, *metrics)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        jobs = sc.statusTracker().getJobIdsForGroup("observed_checkpoint_test")
    finally:
        sc._jsc.clearJobGroup()
    assert values == expected
    # the checkpoint and its metrics come from ONE pass over the frame
    assert len(jobs) == 1, jobs
    assert ck.count() == 1000


def test_materialization_lives_only_in_scale():
    """Operators materialize through operators/scale.py only; the one
    other observe() is sources/io.py's write-time record count."""
    root = pathlib.Path(rheoceros_spark.__file__).parent
    pattern = re.compile(r"localCheckpoint\(|observedMetrics|\.observe\(")
    hits = [
        f"{rel}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if (rel := path.relative_to(root).as_posix()) != "operators/scale.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for m in pattern.finditer(line)
        if (rel, m.group()) != ("sources/io.py", ".observe(")
    ]
    assert not hits, "\n".join(hits)


def test_local_frame_is_a_job_free_local_relation(spark):
    import math

    from pyspark.sql.types import StructType

    from rheoceros_spark.operators.scale import collect_local, local_frame

    schema = (
        "i int, b bigint, d double, s string, a array<double>, "
        "n array<bigint>, st struct<k:int,v:string>"
    )
    rows = [
        (1, 2**63 - 1, 0.1 + 0.2, "x", [1e-300, -0.0, None], [-(2**63)], (7, "y")),
        (None, None, None, None, None, None, None),
        (-2, -5, float("inf"), "", [], [None], (None, None)),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_test", "local_frame_test")
    try:
        df = local_frame(spark, rows, schema)
        got = df.collect()
        empty = local_frame(spark, [], StructType.fromDDL("t string, w bigint"))
        assert empty.collect() == []
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        jobs = sc.statusTracker().getJobIdsForGroup("local_frame_test")
    finally:
        sc._jsc.clearJobGroup()
    assert list(jobs) == [], jobs
    plan = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    assert plan == "LocalRelation", plan
    assert df.schema == StructType.fromDDL(schema)
    assert [tuple(r) for r in got] == rows
    assert math.copysign(1.0, got[0].a[1]) == -1.0  # -0.0 keeps its sign
    # collect_local rebuilds through the same path
    again, n = collect_local(df)
    assert n == 3 and [tuple(r) for r in again.collect()] == rows
    assert again._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
