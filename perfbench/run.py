"""Benchmark for pbf2json_spark: one workload per run, on local[2].

    python3 perfbench/run.py --workload osm_extract --seed 1 --seconds 6 --trace 0

Run from the repository root. Set-up (session start, inputs made from
--seed, the expected output computed without the engine) is outside the
timed jobs. The first job is timed on its own as ``cold_job_s``; after the
workload's untimed warm-up jobs, warm jobs run back to back for --seconds
(at least one) and ``job_s`` is their median. ``setup_s`` is session start
plus the median of three input materializations plus the warm-up jobs.
Every job's output is checked.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics from traced jobs plus the prefix cuts described in workloads.py,
and writes the spans to .perfbench_work/traces/. A traced run also runs the
workload's companions (an engine job the timed runs leave out, see
workloads.WORKLOADS) once each, traced. Metric names and units come from
BENCHMARK.json; the last stdout line is one JSON object. Layers a workload
does not run read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# Two task slots for a 4-CPU host: each slot is a JVM task thread feeding a
# Python worker, so two slots keep about as many threads busy as there are
# CPUs, and the JVM's GC and JIT threads still find one free. With two
# busy-looping processes beside it on a 4-vCPU VM, osm_extract's warm job
# slowed by 35% on local[4] and by 17% on local[2].
MASTER = "local[2]"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _session(work: str):
    """MASTER session through the engine's own factory; every file Spark,
    the JVM and the Python workers write stays under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # executors import the engine (and nothing else) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pbf2json_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=MASTER,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM takes its Python workers down with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def run(args, work: str, spec: dict) -> dict:
    from sparkstats import SparkCounters, peak_rss_mb, reset_peak_rss
    from tracing import Tracer, timed
    from workloads import WORKLOADS

    phases = {}
    start_s, spark = timed(lambda: _session(work))
    phases["session"] = start_s
    try:
        counters = SparkCounters(spark)
        wl, *companions = [
            cls(spark, args.seed, work, counters) for cls in WORKLOADS[args.workload]
        ]
        if not args.trace:
            companions = []
        # setup_s takes the median of several materializations; a traced
        # run does not report it and needs the time for its companions
        repeats = 1 if args.trace else SETUP_REPEATS
        setups = [timed(wl.materialize)[0] for _ in range(repeats)]
        phases["materialize"] = sum(setups)

        def prepare():
            for c in companions:
                c.materialize()
            for w in (wl, *companions):
                w.prepare()

        phases["prepare"] = timed(prepare)[0]
        # peak memory from here on: the jobs', not the generator's or oracle's
        reset_peak_rss()

        off = Tracer(False)
        cold = phases["cold"] = wl.run_job(off)
        missing = wl.guard()
        warm_s = phases["warmup"] = sum(wl.run_job(off) for _ in range(wl.warmups))
        if not args.trace:
            walls = []
            t0 = time.perf_counter()
            while not walls or time.perf_counter() - t0 < args.seconds:
                walls.append(wl.run_job(off))
            job_s = statistics.median(walls)
            phases["timed"] = sum(walls)
            print(f"perfbench: warm jobs {[round(w, 3) for w in walls]} s", file=sys.stderr)
            values = {
                "setup_s": start_s + statistics.median(setups) + warm_s,
                "cold_job_s": cold,
                "job_s": job_s,
                "items_per_s": wl.items / job_s,
                "peak_rss_mb": peak_rss_mb(),
            }
            names = spec["end_to_end"]
        else:
            stats, values, trace = wl.traced()
            values.update({
                "session.start_s": start_s,
                "spark.jobs": stats["jobs"],
                "spark.stages": stats["stages"],
                "spark.tasks": stats["tasks"],
                "spark.shuffle_bytes": stats["shuffle_bytes"],
                "spark.spill_bytes": stats["spill_bytes"],
                "trace.wall_s": stats["wall_s"],
                "trace.overhead_s": stats["overhead_s"],
                "trace.reconcile_err": stats["reconcile_err"],
                "trace.negative_layers": stats["negative_layers"],
            })
            trace["cold_job_s"] = cold
            for c in companions:
                c_stats, c_values, trace[c.name] = c.traced()
                missing += c.guard()
                values.update(c_values)
                values.update({
                    f"{c.job_layer}.job_s": c_stats["wall_s"],
                    f"{c.job_layer}.spark_jobs": c_stats["jobs"],
                    f"{c.job_layer}.spark_stages": c_stats["stages"],
                    f"{c.job_layer}.spark_tasks": c_stats["tasks"],
                })
                values["trace.negative_layers"] += c_stats["negative_layers"]
            names = spec["per_layer"]
            trace["metrics"] = values
            tdir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(trace, f, indent=1)
        if missing:
            print(f"perfbench: {args.workload} plan lost {missing}", file=sys.stderr)
    finally:
        phases["stop"] = timed(lambda: _stop(spark))[0]
        print(f"perfbench: phases {({k: round(v, 2) for k, v in phases.items()})}",
              file=sys.stderr)

    attempted = sum(w.attempted for w in (wl, *companions))
    failed = sum(w.failed for w in (wl, *companions))
    return {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }


def main(argv=None) -> int:
    args = _args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "pbf2json_spark", "__init__.py")):
        print(f"perfbench: no pbf2json_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
