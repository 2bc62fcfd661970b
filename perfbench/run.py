"""Benchmark entry point.

    python3 perfbench/run.py --workload route_backfill --seed 1 --seconds 10 --trace 0

runs one closed-loop workload (one client, one Python process, Spark at
``local[2]`` with a 4 GB driver) from the root of a source checkout and
prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the per-operation breakdown is also written to
``.perfbench_out/``.

Other modes:

* ``--smoke``: small inputs, one operation;
* ``--repeat N``: run the workload N times in fresh processes (seeds
  seed..seed+N-1) and print each end-to-end metric's median and
  quartiles.

All working files live under ``.perfbench_work/`` in the checkout and
are removed when a run succeeds.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
#: metric name -> unit, as declared in BENCHMARK.json
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def start_session(work: str, trace: bool):
    from rheoceros_spark import get_session

    confs = {
        "spark.driver.memory": "4g",
        "spark.ui.enabled": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms4g",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
            }
        )
    return get_session("perfbench", master="local[2]", extra_confs=confs)


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def quiesce(spark) -> None:
    """Full GC on both sides between operations, outside the timed
    region, so the session's periodic GC never lands inside one."""
    gc.collect()
    spark._jvm.java.lang.System.gc()
    time.sleep(0.2)


def heap_live_mb(spark) -> float:
    """Heap in use after a full GC.  Blocks that a GC makes unreachable
    are released by Spark's ContextCleaner only after it, so the
    GC-then-wait cycle runs three times first (after two rounds,
    stream_ingest still read ~80 MB more than after four)."""
    for _ in range(3):
        quiesce(spark)
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / 2**20


def run_workload(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    from workloads import WORKLOADS
    from tracing import OP_PROPERTY, Py4jCounter, Spans, fold_event_log

    t = time.perf_counter()
    spark = start_session(work, args.trace)
    session_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.smoke)
    py4j = spans = None
    if args.trace:
        # installed before set-up, since the stream query binds its
        # callees when it starts; spans record only inside operations
        py4j = Py4jCounter()
        py4j.install()
        spans = Spans(py4j)
        wl.wrap_layers(spans)
    try:
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        wl.warm()
        quiesce(spark)
        setup_s = time.perf_counter() - T0
        print(
            f"perfbench: session {session_s:.2f} s, prepare {prepare_s:.2f} s, "
            f"setup total {setup_s:.2f} s",
            file=sys.stderr,
        )
        sc = spark.sparkContext
        times: list[float] = []
        items = 0
        failed: set[int] = set()
        loop_start = time.perf_counter()
        i = 0
        while True:
            wl.stage(i)
            if spans is not None:
                cur = spans.begin_op()
                sc.setLocalProperty(OP_PROPERTY, str(i))
                c0 = py4j.calls
                r0 = py4j.releases
            gc.disable()  # collected in quiesce(), between operations
            t = time.perf_counter()
            try:
                items += wl.op(i)
            except Exception as e:  # a failed operation is counted, the run goes on
                print(f"operation {i} failed: {e!r}", file=sys.stderr)
                failed.add(i)
            times.append(time.perf_counter() - t)
            gc.enable()
            print(f"perfbench: op {i} {times[-1] * 1000:.0f} ms", file=sys.stderr)
            if spans is not None:
                cur["py4j.calls"] += py4j.calls - c0
                cur["py4j.releases"] += py4j.releases - r0
                spans.end_op()
                sc.setLocalProperty(OP_PROPERTY, None)
            i += 1
            quiesce(spark)
            if args.smoke or time.perf_counter() - loop_start >= args.seconds:
                break
        # a running stream query keeps launching listing jobs while it
        # is idle; one in flight at the GC reads up to ~80 MB more
        wl.close()
        heap = heap_live_mb(spark)
        if spans is not None:
            spans.unwrap_all()
            py4j.uninstall()
        # an operation that raised has no output to check: it counts as
        # failed, while ``correct`` speaks of the outputs that were made
        bad = wl.check()
        failed |= bad
        correct = not bad and not wl.bad_untimed
    finally:
        wl.close()
        stop_session(spark)

    result = {"correct": correct, "attempted": len(times), "failed": len(failed)}
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(times) * 1000.0,
            "items_per_s": items / sum(times),
            "heap_live_mb": heap,
        }
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        log = fold_event_log(f"{work}/eventlog", wl.op_of_job)
        per_op = []
        for j, s in enumerate(spans.ops):
            row = {k: 0.0 for k in PER_LAYER}
            row.update({k: v for k, v in s.items() if k in row})
            row.update(log.get(j, {}))
            row.update(wl.layer_metrics(j, s))
            row["session.start_s"] = session_s
            per_op.append(row)
        for row, t in zip(per_op, times):
            row["op_ms"] = t * 1000.0  # in the JSON file only, for the tracing overhead
        metrics = {k: statistics.median(row[k] for row in per_op) for k in PER_LAYER}
        result["metrics"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/trace-{args.workload}-{args.seed}.json", "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "ops": per_op, "median": metrics}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)  # kept after a failure, for inspection
    return result


def repeat(args) -> dict:
    """Run the workload ``args.repeat`` times, each in a fresh process
    with its own seed, and summarise every end-to-end metric."""
    values: dict[str, list[float]] = {k: [] for k in END_TO_END}
    runs = []
    for n in range(args.repeat):
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--workload", args.workload, "--seed", str(args.seed + n),
            "--seconds", str(args.seconds), "--trace", "0",
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        for k in END_TO_END:
            values[k].append(res["metrics"][k]["value"])
        print(json.dumps(res), file=sys.stderr)
    summary = {}
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": q2, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / q2}
    return {
        "workload": args.workload,
        "runs": len(runs),
        "failed_share": [r["failed"] / r["attempted"] for r in runs],
        "spread": summary,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["route_backfill", "corpus_curation", "stream_ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--repeat", type=int, default=0)
    args = p.parse_args()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import rheoceros_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not rheoceros_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: imported {rheoceros_spark.__file__}, not the engine in {ROOT}", file=sys.stderr)
        return 2
    if args.repeat:
        print(json.dumps(repeat(args), indent=1))
        return 0
    print(json.dumps(run_workload(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
