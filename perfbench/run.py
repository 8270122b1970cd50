#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout: the package under test is the
``zg_etl_spark`` directory beside ``perfbench/``, and nothing else is
imported in its place. With ``--trace 0`` the result holds the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` the per-layer metrics, and
the spans of the run are written to ``.perfbench/traces/``. See
perfbench/README.md for what each workload measures and why.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _import_package():
    """The checkout's own package, or exit: a run must never measure a
    copy installed elsewhere."""
    # the script's own directory leads sys.path; put the checkout root
    # there instead, so perfbench and the package import as packages
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        import zg_etl_spark
    except ImportError:
        sys.exit("perfbench: no zg_etl_spark package beside perfbench/")
    if not os.path.abspath(zg_etl_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: zg_etl_spark resolved outside {ROOT}")


def driver_memory() -> str:
    """A driver heap that fits the host: a third of its RAM, 2 to 4 GiB
    (the package default of 16g exceeds small hosts)."""
    try:
        with open("/proc/meminfo") as fh:
            kib = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
        gib = kib // 2**20
    except (OSError, StopIteration, ValueError):
        gib = 8
    return f"{max(2, min(4, gib // 3))}g"


class RunDir:
    """Per-run working directory inside the checkout (inputs, Spark local and
    checkpoint dirs, the package's temp files), removed at exit."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")

    def __enter__(self) -> "RunDir":
        shutil.rmtree(self.path, ignore_errors=True)  # a dead run's, same pid
        for sub in ("tmp", "spark-local", "jvm-tmp", "checkpoint", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        os.environ["SPARK_DRIVER_MEM"] = driver_memory()
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # Python workers import the package from the checkout, whatever the cwd
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        tempfile.tempdir = os.environ["TMPDIR"]
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(run: RunDir, cpus: int):
    from zg_etl_spark.session import get_spark

    sub = lambda name: os.path.join(run.path, name)  # noqa: E731
    spark = get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": sub("spark-local"),
        "spark.sql.warehouse.dir": sub("warehouse"),
        "spark.sql.streaming.checkpointLocation": sub("checkpoint"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={sub('jvm-tmp')}",
    })
    spark.sparkContext.setCheckpointDir(sub("checkpoint"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _exit_on_sigterm(signum, frame):
    # a plain exit, so the run dir and the JVM are cleaned up on the way out
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    _import_package()
    from perfbench import layers
    from perfbench.tracing import ExecProbe, JvmProbe, Tracer
    from perfbench.workloads import WORKLOADS
    from zg_etl_spark.sources.tables import DEFAULT_SF_DIR

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, "events.parquet")):
        sys.exit(f"perfbench: no source tables at {DEFAULT_SF_DIR}")
    cpus = len(os.sched_getaffinity(0))

    with RunDir() as run:
        t = time.perf_counter()
        spark = start_spark(run, cpus)
        try:
            setup = {"session.start_s": time.perf_counter() - t}
            tracer = Tracer()
            workload = WORKLOADS[args.workload](
                spark, DEFAULT_SF_DIR, run.path, args.seed, tracer)
            t = time.perf_counter()
            workload.make_inputs()
            setup["setup.inputs_s"] = time.perf_counter() - t
            t = time.perf_counter()
            workload.warm_up()
            setup["setup.warmup_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - T0
            # objects that live through the run (modules, the session,
            # inputs) leave the collector's view, so the gc.collect()
            # between ops scans only what the ops allocated
            gc.collect()
            gc.freeze()

            if args.trace:
                tracer.exec = ExecProbe(spark)
                tracer.listen(spark)
                jvm = JvmProbe(spark)
                jvm.reset_peak()
                gc0 = jvm.gc_seconds()
            # (traced, wall, ops). A traced run alternates untraced and
            # traced rounds, at least three (untraced first and last), so
            # its overhead ratio compares a traced round with both neighbours
            rounds = []
            t_timed = time.perf_counter()
            while (time.perf_counter() - t_timed < args.seconds
                   or (args.trace and len(rounds) < 3)):
                traced = bool(args.trace) and len(rounds) % 2 == 1
                if traced:
                    tracer.install()
                tracer.enabled = traced
                gc.collect()
                t = time.perf_counter()
                ops = workload.round()
                rounds.append((traced, time.perf_counter() - t, ops))
                print(f"perfbench: round {len(rounds)} traced={traced} "
                      f"wall {rounds[-1][1]:.2f}s ops {[round(op.seconds, 2) for op in ops]}",
                      file=sys.stderr, flush=True)
                tracer.enabled = False
                tracer.uninstall()

            ops = [op for _, _, op_list in rounds for op in op_list]
            workload.finish(ops)
            failed = sum(not op.ok for op in ops)
            if args.trace:
                metrics = layers.per_layer(
                    rounds, tracer, setup,
                    gc_s=jvm.gc_seconds() - gc0,
                    heap_peak_mb=jvm.heap_peak_mb(),
                    rss_peak_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                )
                out = os.path.join(ROOT, ".perfbench", "traces")
                os.makedirs(out, exist_ok=True)
                stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
                tracer.dump(stem + ".spans.json")
                with open(stem + ".metrics.json", "w") as fh:
                    json.dump(metrics, fh, indent=1)
            else:
                busy = sum(op.seconds for op in ops)
                values = {
                    "setup_s": setup_s,
                    "op_geomean_s": math.exp(statistics.fmean(
                        math.log(op.seconds) for op in ops)),
                    "ops_per_s": len(ops) / busy,
                }
                metrics = {name: {"value": values[name], "unit": unit}
                           for name, unit, _ in layers.END_TO_END}
            print(f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
                  f"failed={failed} setup_s={setup_s:.2f}", file=sys.stderr)
        finally:
            stop_spark(spark)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
