"""Phase-profile one registered query: construction (analysis),
explain (optimization+physical planning), first noop run, steady-state
noop runs, and the driver-job count of one run.

Usage: python scripts/profile_one.py <query> [sf_dir] [iters]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from rheoceros_spark.session import get_session


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    qs = {
        **entrymod.retired_queries(),
        **entrymod._STAGED_QUERIES,
        **entrymod.queries(),
    }
    fn = qs[name]
    spark = get_session(
        "profile_one",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=64,
        extra_confs={"spark.ui.enabled": "false"},
    )
    sc = spark.sparkContext
    # warm the session: one trivial action
    spark.range(10).write.format("noop").mode("overwrite").save()

    t0 = time.time()
    df = fn(spark, sf_dir)
    t_build = time.time() - t0

    t0 = time.time()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    t_explain = time.time() - t0
    plan_path = os.environ.get("PROFILE_PLAN_OUT")
    if plan_path:
        with open(plan_path, "w") as fh:
            fh.write(plan)

    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t_first = time.time() - t0

    steady = []
    for _ in range(iters):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        # rebuild the frame each iteration: operators that cache or
        # checkpoint internally must not amortize across iterations
        df_i = fn(spark, sf_dir)
        t0 = time.time()
        df_i.write.format("noop").mode("overwrite").save()
        steady.append(round(time.time() - t0, 3))

    # driver-job count of one full cold call (build + run)
    jid0 = sc._jsc.sc().dagScheduler().nextJobId()
    df_j = fn(spark, sf_dir)
    df_j.write.format("noop").mode("overwrite").save()
    jid1 = sc._jsc.sc().dagScheduler().nextJobId()

    print(
        f"PROFILE {name} sf_dir={sf_dir}\n"
        f"  build(analysis)   {t_build:7.3f}s\n"
        f"  explain(optimize) {t_explain:7.3f}s\n"
        f"  first run         {t_first:7.3f}s\n"
        f"  steady runs       {steady}\n"
        f"  driver jobs/call  {jid1 - jid0}"
    )


if __name__ == "__main__":
    main()
