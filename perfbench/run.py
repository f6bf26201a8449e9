#!/usr/bin/env python3
"""Crawl + query benchmark for film_crawler_spark.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 25 --trace 0

Workloads (why each was chosen: perfbench/layers.py):
  crawl_polite  a synthetic crawl whose 64-page per-host budget binds in
                every timed round; one timed step is one run_iteration
                call after round 0 of one run_crawl
  query_suite   the 34 queries.REGISTRY entries over the bundled
                sf0.01 tables, in a seed-shuffled order; one timed step
                is one pass over all of them, each forced with a noop sink

The session runs at local[<cores this process may use>] with a fixed
4 GB driver heap; every file the run writes lands under .perfbench_work/ in
the checkout. ``--seconds`` fixes the amount of timed work (see
ROUND_NOMINAL_S / PASS_NOMINAL_S in workloads.py). With ``--trace 0``
the last stdout line reports the end-to-end metrics; with ``--trace 1``
the tracer wraps the engine's layer boundaries, Spark writes an event
log, and the line reports the per-layer metrics instead. Diagnostics go
to stderr. Exit code 0 when the run completed, 1 when it raised, 2 when
the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_polite", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str, cores: int, trace: bool) -> None:
    # engine knobs from the caller's shell would change what is measured
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")


def _start_session(ctx):
    """One session start-up: get_spark (which launches the JVM) and
    warmup. Returns the session, (get_spark_s, warmup_s) and the driver
    JVM's pid."""
    from film_crawler_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
        # a fixed heap and young generation: with adaptive sizing the
        # driver's VmHWM moved by ~30% between runs of one seed
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn1g "
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
    }
    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{ctx.cores}]",
        shuffle_partitions=ctx.cores, extra_conf=conf,
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    t2 = time.perf_counter()
    session.warmup(spark)
    return spark, (t1 - t0, time.perf_counter() - t2), pid


def _stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "film_crawler_spark", "__init__.py")):
        print("perfbench: film_crawler_spark/ is not in this checkout", file=sys.stderr)
        return 2
    # import the benchmark as the ``perfbench`` package from the root,
    # never its modules by bare name from the script's own directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench import layers, stats, workloads
    from perfbench.host import HostWindow
    from perfbench.memory import HwmSampler, vm_hwm_mb
    from perfbench.tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    _prepare_env(work, cores, bool(args.trace))
    tracer = Tracer() if args.trace else None
    ctx = workloads.Context(ROOT, work, args.seed, args.seconds, cores, tracer)
    run = {"crawl_polite": workloads.crawl_polite, "query_suite": workloads.query_suite}[
        args.workload]

    spark = sampler = None
    host = HostWindow().start()
    try:
        if tracer is not None:
            tracer.install()
        spark, (get_spark_s, warmup_s), jvm_pid = _start_session(ctx)
        sampler = HwmSampler(jvm_pid).start()
        res = run(ctx, spark)
        sampler.stop()
        peak_mb = sampler.peak_mb()
        workloads.log(f"[{args.workload}] VmHWM driver {vm_hwm_mb(jvm_pid):.0f} MB, largest "
                      f"worker {max(sampler.worker_hwm.values(), default=0.0):.0f} MB")
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        if sampler is not None:
            sampler.stop()
        _stop_session(spark)
        if tracer is not None:
            tracer.uninstall()

    workloads.log(f"[{args.workload}] host " + " ".join(
        f"{k} {v:.3f}" for k, v in host.stop().items()))
    setup_s = get_spark_s + warmup_s + res.warm_s
    if args.trace:
        layer = dict(res.layer)
        layer["session.get_spark_s"] = get_spark_s
        layer["session.warmup_s"] = warmup_s
        layer["setup.warm_pass_s"] = res.warm_s
        layer.update(workloads.spark_layers(ctx, res.spark_steps, res.spark_rounds))
        values = workloads.complete_layers(layer)
        units = {n: u for n, (u, _, _, _) in layers.PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "step_p50_s": stats.median(res.step_s),
            "peak_rss_mb": peak_mb,
        }
        units = {n: u for n, u, _, _ in layers.END_TO_END}
    workloads.log(
        f"[{args.workload}] get_spark {get_spark_s:.3f}s, warmup {warmup_s:.3f}s, "
        f"warm-up pass {res.warm_s:.3f}s, {len(res.step_s)} timed steps; "
        f"p50 over {len(res.step_s)} samples, tail percentile with >= 10 beyond: "
        f"{stats.highest_reportable_percentile(len(res.step_s))}"
    )
    print(json.dumps({
        "correct": bool(res.correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in values},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
