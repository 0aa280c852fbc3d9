"""Run one benchmark workload and print its metrics as one JSON line.

    python3 lakebench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with no tracing;
``--trace 1`` is a separate run that wraps every layer in spans and
prints the per-layer metrics instead (see lakebench/README.md). Run it
from the root of a checkout of the repository; all inputs, warehouses
and Spark scratch space live under ``.lakebench_work/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "apache_iceberg_pyiceberg_local_data_lakehouse_spark"
# Spark local[N]: at most 2 cores, and never more than the host has. On a
# shared 4-core host, local[4] plus the Python driver and the JVM's own
# threads oversubscribed it: no faster than local[2], and twice as noisy.
CORES = max(1, min(2, os.cpu_count() or 1))
DRIVER_MEMORY = "2g"


def _pin_process(work: str) -> None:
    """Keep every file the run writes inside ``work`` and every clock in
    UTC, before Spark's JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no JVM (the launcher's included) writes perf data under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    time.tzset()


def _spark(work: str):
    from apache_iceberg_pyiceberg_local_data_lakehouse_spark.session import get_spark

    # a fixed-size heap: a growing one made the number of collections,
    # and so the timed calls, vary from run to run
    java_opts = f"-Dderby.system.home={work} -Xms{DRIVER_MEMORY}"
    spark = get_spark(
        app_name="lakebench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def runtime_facts(spark) -> dict:
    """The facts a reader needs to compare two runs' hosts."""
    import pyspark

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "nproc": os.cpu_count(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_1m": os.getloadavg()[0],
        "spin_1m_adds_s": time.perf_counter() - t0,
    }


def workload_class(name: str):
    from lakebench.wl_ingest import Ingest
    from lakebench.wl_mutate import Mutate

    return {w.name: w for w in (Ingest, Mutate)}[name]


def end_to_end(run, wl) -> dict:
    live = run.extra["live_bytes"]
    return {
        "setup_s": (statistics.median(run.setups), "s"),
        "ok_ratio": ((run.attempted - run.failed) / run.attempted, "ratio"),
        "round_s": (statistics.median(run.rounds), "s"),
        "main_op_s": (run.median(wl.main_op()), "s"),
        "short_op_s": (run.median(wl.short_op()), "s"),
        "write_amp": (run.bytes_written / run.input_bytes, "ratio"),
        "space_amp": (run.warehouse_bytes() / live if live else 0.0, "ratio"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "mutate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"lakebench: no {PACKAGE}/ next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_process(work)

    from lakebench.common import Run, loop

    t_start = time.perf_counter()
    spark = _spark(work)
    phases = {"session": time.perf_counter() - t_start}
    try:
        facts = runtime_facts(spark)
        print(f"# runtime {json.dumps(facts)}", file=sys.stderr)
        run = Run(spark=spark, seed=args.seed, seconds=args.seconds, work=work)
        t0 = time.perf_counter()
        wl = workload_class(args.workload)(run)
        phases["inputs"] = time.perf_counter() - t0
        wl.setup()
        phases["setup_and_checks"] = time.perf_counter() - t0 - phases["inputs"]
        layers = None
        if args.trace:
            from lakebench.headline import traced_pass
            from lakebench.layers import Layers

            layers = Layers(run)
        t0 = time.perf_counter()
        n_rounds = loop(run, wl.round, wl.cycle)
        loop_s = phases["loop"] = time.perf_counter() - t0
        wl.finish()
        if layers is not None:
            layers.finish(n_rounds, loop_s)
            if hasattr(wl, "selfcheck"):
                wl.selfcheck(layers.tracer)
                # the queries layer has no workload of its own (headline.py)
                traced_pass(run, layers.tracer)
            layers.tracer.dump(f"{work}-spans.jsonl")
        print(
            f"# calls {({k: [round(x, 3) for x in v] for k, v in run.calls.items()})}",
            file=sys.stderr,
        )
        for e in run.errors:
            print(f"# error: {e}", file=sys.stderr)
        if args.trace:
            metrics = layers.metrics()
        else:
            metrics = end_to_end(run, wl)
        phases["finish"] = time.perf_counter() - t0 - loop_s
        print(
            f"# {args.workload}: {n_rounds} rounds in {loop_s:.1f} s, "
            f"setups {[round(s, 2) for s in run.setups]}, "
            f"phases {({k: round(v, 1) for k, v in phases.items()})}",
            file=sys.stderr,
        )
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT  # import as the lakebench package, from the checkout root
    else:
        sys.path.insert(0, ROOT)
    sys.exit(main())
