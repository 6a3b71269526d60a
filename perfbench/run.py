#!/usr/bin/env python3
"""Segmentation benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload cascade_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  Inputs are generated
from ``--seed`` into ``.perfbench_work/`` in the checkout and removed at the
end; Spark and Python temporary files go there too.  Load comes from this
process: one driver thread on ``local[<cores>]`` (all cores unless
``--cores``), closed loop.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its per-layer
metrics (spans are then written to ``.perfbench_out/``).  A readable report
goes to stderr.  ``--plant-error`` corrupts one checked output to show that
the correctness gate catches it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "clickhouse_segments_tutorial_spark")
WORKLOADS = ("cascade_ingest", "query_mix")


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and of the per-layer metrics, as
    ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    p.add_argument("--plant-error", action="store_true")
    return p.parse_args(argv)


def _prepare_env(work: str, cores: int) -> dict[str, str]:
    """Keep every temporary file of this process and the JVM inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"perfbench: package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    conf = _prepare_env(work, args.cores)
    sys.path.insert(0, ROOT)
    from clickhouse_segments_tutorial_spark.session import get_spark
    from perfbench import workloads as W

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    probe = W.Probe(spark, bool(args.trace))
    try:
        if args.workload == "query_mix":
            out = W.run_query_mix(
                spark, work, args.seed, args.seconds, probe, plant_error=args.plant_error
            )
        else:
            out = W.run_cascade(
                spark, work, args.seed, args.seconds, probe, plant_error=args.plant_error
            )
        out.layer["session.peak_rss_mb"] = _peak_rss_mb(spark)
    finally:
        probe.close()
        _stop(spark)

    out.setup_s += get_spark_s
    out.layer["session.get_spark_s"] = get_spark_s

    e2e = {"setup_s": out.setup_s, "ok_frac": 1.0 - out.failed / max(1, out.attempted)}
    tail = W.tail(out.op_s) if out.op_s else None
    if tail:
        e2e.update(
            op_p50_s=statistics.median(out.op_s),
            op_tail_s=tail[0],
            read_p50_s=statistics.median(out.read_s) if out.read_s else 0.0,
            work_per_s=out.work / sum(out.op_s),
        )

    _report(args, out, e2e, tail)
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        probe.tracer.write(
            os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json")
        )
    e2e_units, layer_units = _metric_units()
    values, units = (out.layer, layer_units) if args.trace else (e2e, e2e_units)
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


def _report(args, out, e2e, tail) -> None:
    names = {
        "cascade_ingest": ("ingest", "serve", "events"),
        "query_mix": ("mix pass", "collects per pass", "queries"),
    }[args.workload]
    w = sys.stderr.write
    w(f"perfbench {args.workload} seed={args.seed} cores={args.cores} trace={args.trace}\n")
    w(f"  setup_s      {e2e['setup_s']:.4f} s  (session {out.layer['session.get_spark_s']:.2f}"
      f" + warm-up {out.layer['setup.warmup_s']:.2f}; input staging"
      f" {out.layer['setup.staging_s']:.2f} not counted)\n")
    if tail:
        w(f"  op_p50_s     {e2e['op_p50_s']:.4f} s  ({names[0]} latency, n={len(out.op_s)}:"
          f" {' '.join(f'{x:.3f}' for x in out.op_s)})\n")
        w(f"  op_tail_s    {e2e['op_tail_s']:.4f} s  (p{tail[1]} of n={len(out.op_s)},"
          f" {tail[2]} samples beyond)\n")
        w(f"  read_p50_s   {e2e['read_p50_s']:.4f} s  ({names[1]} latency, n={len(out.read_s)}:"
          f" {' '.join(f'{x:.3f}' for x in out.read_s)})\n")
        w(f"  work_per_s   {e2e['work_per_s']:.4f} 1/s ({names[2]} per second)\n")
    w(f"  peak RSS     {out.layer['session.peak_rss_mb']:.1f} MB (driver JVM)\n")
    w(f"  ok_frac      {e2e['ok_frac']:.4f}  (failed {out.failed} of {out.attempted};"
      f" failed_frac {out.failed / max(1, out.attempted):.4f})\n")
    for err in out.errors:
        w(f"  FAILED: {err}\n")
    if args.trace:
        for k in sorted(out.layer):
            w(f"  {k:48s} {out.layer[k]:.6g}\n")


if __name__ == "__main__":
    sys.exit(main())
