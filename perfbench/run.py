"""Benchmark command: run one workload and print its metrics.

    python3 perfbench/run.py --workload toot_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root. With ``--trace 0`` the last stdout line
holds the end-to-end metrics, with ``--trace 1`` the per-layer ones
(spans go to ``.perfbench_out/``). The line before it gives sample
counts, percentiles used and every failed check. The command exits 1
when any output check fails and 2 when the engine is not found.
Everything it writes stays under the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "projet_5spar_sparkstreaming_spark"
# One fixed heap size (-Xms = -Xmx) in place of the engine's default
# (-Xmx8g, heap grown by the collector): with the default, the peak
# resident memory of toot_stream read 2.3-3.1 GB over six runs.
HEAP = "2g"


def _bench_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _start_spark(work: str):
    from projet_5spar_sparkstreaming_spark.session import get_spark

    return get_spark(
        "perfbench",
        master="local[4]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "10000",
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started to be gone."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores shutdown is killed
            proc.kill()
            proc.wait()
    from procfs import _read_all, classify

    deadline = time.time() + 30
    while time.time() < deadline:
        stats = _read_all()
        alive = [p for p in classify(stats, os.getpid()) if p != os.getpid()]
        if not alive:
            return
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    spec = _bench_spec()
    # the engine on the path of this process and of the Python workers
    # Spark forks (they import the engine's kernels by module name)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    import workloads
    from procfs import TreeSampler
    from spans import Tracer

    if args.workload not in workloads.RUNNERS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sampler = TreeSampler().start()
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_spark(work)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, sampler, args.seed, args.seconds,
                            os.path.join(work, "run"), session_s)
        os.makedirs(ctx.work)
        run = workloads.RUNNERS[args.workload](ctx)
        if args.trace:
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    values = run.layers if args.trace else run.e2e
    metrics = {}
    for m in spec[kind]:
        # a layer the workload never enters reads 0; an end-to-end
        # metric every workload must measure
        if args.trace == 0 and m["name"] not in values:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    failed = len(run.failures)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "failures": run.failures,
                      **run.detail}))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
