#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the same
workload with Spark's event log on, runs the layer probes (``probes.py``),
reduces the log to per-layer metrics (``evlog.py``) and reports the traced
wall as ``traced_wall_s``; the tracing overhead is that minus ``wall_s`` of
an untraced run of the same seed. See README.md for the workloads and
metrics.

Everything the run writes (Spark warehouse, local dirs, run dirs, event
log, staged tables) lives under ``.perfbench_tmp/`` in the checkout and is
deleted at exit. The last stdout line is the result; the line before it
carries context (host ceiling probes, workload detail, errors).
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "realestate_scraper_spark"

E2E_UNITS = {"wall_s": "s", "setup_s": "s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    """Usable cores (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def host_ceiling(procs: int) -> dict:
    """Bare-multiprocessing image and parse throughput at ``procs``
    processes, measured before the JVM starts (scripts/scaling_bench)."""
    sys.path.insert(0, str(ROOT / "scripts"))
    from scaling_bench import hardware_baseline, hardware_parse_baseline

    return {
        "procs": procs,
        "images_per_s": hardware_baseline(procs, total=500),
        "parse_pages_per_s": hardware_parse_baseline(procs, total=500),
    }


def isolate(tmp: Path) -> None:
    """Point every scratch location of this process and its children at
    ``tmp``, and put the repo on the Python workers' import path."""
    for d in ("py", "local", "warehouse", "java"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp / "py")
    tempfile.tempdir = str(tmp / "py")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(tmp: Path, n: int, evlog_dir: Path | None):
    """get_spark with the library's defaults (driver heap, AQE, Arrow batch
    size), the master, the run's isolation and event-log conf, and 4 x
    cores shuffle partitions instead of the default 32: at local[4] the
    default made the crawl 20-50% slower (43-76 s against 36-49 s, same
    seeds interleaved), too slow for the run budget in README.md."""
    from realestate_scraper_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.local.dir": str(tmp / "local"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp / 'java'} -XX:-UsePerfData",
    }
    if evlog_dir is not None:
        evlog_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=4 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no program to measure: {PACKAGE} is missing",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    run = None
    try:
        isolate(tmp)
        n = cores()
        t_probe = time.monotonic()
        context = {"host_ceiling": host_ceiling(n), "cores": n,
                   "workload": args.workload, "seed": args.seed}
        # set-up time excludes the host probe, which is context only
        t_origin = T_START + (time.monotonic() - t_probe)
        evlog_dir = tmp / "evlog" if args.trace else None
        run = workloads.Run(start=lambda: start_session(tmp, n, evlog_dir),
                            tmp=str(tmp), seed=args.seed, seconds=args.seconds)
        res = workloads.WORKLOADS[args.workload](run, t_origin)
        spark = run.spark
        context["detail"] = res.detail
        context["errors"] = res.errors
        if args.trace:
            import evlog
            import probes

            layer = probes.run_all(spark, res, args.seed)
            stop_session(spark)
            run.spark = None
            layer.update(evlog.layer_metrics(evlog.find_log(evlog_dir), res))
            if layer["crawl.engine.rounds"]:
                layer["crawl.engine.jobs_per_round"] = (
                    layer["session.jobs"] / layer["crawl.engine.rounds"])
            metrics = {k: {"value": float(v), "unit": evlog.UNITS[k]}
                       for k, v in sorted(layer.items())}
        else:
            values = {"wall_s": res.wall_s, "setup_s": res.setup_s}
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in values.items()}
        print(json.dumps({"context": context}, default=str))
        print(json.dumps({
            "correct": res.failed == 0 and not res.errors,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if run is not None and run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
