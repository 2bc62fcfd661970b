"""Sweep every benched query for driver-side planning cost: build the
frame at a tiny SF, time explainString("formatted"), and record the
total nanoseconds RuleExecutor spent in the dynamic-pruning
PartitionPruning rule (the known exponential-alias-substitution
hotspot).  No query is executed — this isolates fixed per-call
Catalyst cost, which at 100 TB is pure driver serialization before any
task runs.

Usage: python scripts/sweep_plan_cost.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from rheoceros_spark.session import get_session


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and "/" in sys.argv[1]
        else "/root/testdata/sf0.001"
    )
    only = [a for a in sys.argv[1:] if "/" not in a]
    qs = {
        **entrymod.retired_queries(),
        **entrymod._STAGED_QUERIES,
        **entrymod.queries(),
    }
    names = [n for n in qs if not only or n in only]
    spark = get_session(
        "sweep_plan_cost",
        master="local[8]",
        shuffle_partitions=16,
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.range(10).write.format("noop").mode("overwrite").save()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    RE = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    rows = []
    for name in names:
        try:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t_build = time.time() - t0
            RE.resetMetrics()
            t0 = time.time()
            df._jdf.queryExecution().explainString(mode)
            t_explain = time.time() - t0
            dump = RE.dumpTimeSpent()
            m = re.search(
                r"dynamicpruning\.PartitionPruning\s+(\d+) / (\d+)", dump
            )
            dpp_ms = int(m.group(2)) / 1e6 if m else 0.0
            rows.append((name, t_build, t_explain, dpp_ms))
            print(
                f"{name:40s} build {t_build:7.2f}s explain {t_explain:7.2f}s "
                f"dpp {dpp_ms:9.1f}ms",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name:40s} ERROR {type(exc).__name__}: {str(exc)[:120]}",
                  flush=True)
    rows.sort(key=lambda r: -(r[1] + r[2]))
    print("\n== slowest build+explain ==")
    for name, b, e, d in rows[:25]:
        print(f"{name:40s} build {b:7.2f}s explain {e:7.2f}s dpp {d:9.1f}ms")


if __name__ == "__main__":
    main()
