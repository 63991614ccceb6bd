"""Medallion benchmark: one command, four named workloads, one JSON result line.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 20 --trace 0

Run it from the repository root. Workloads (one client, closed loop, Spark
master local[nproc]; one warm-up round, then a fixed number of measured
rounds, ``ROUNDS``):

* ``olap_sql``      passes over the bench-tagged tabular queries;
* ``curation_udf``  passes over the bench-tagged document, embedding and media
  queries;
* ``lake_trickle``  pipeline cycles of small Bronze batches on a daily clock;
* ``lake_backfill`` the same cycles with large batches.

BENCHMARK.json lists ``olap_sql`` and ``lake_trickle``; see README.md.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, derived from spans recorded
around every call the benchmark makes into the program. Both print every
figure as a ``metric <name> <value> <unit>`` line first, and write the spans
and a report to ``.perfbench_out/``. The program is run with its defaults: no
``SPARK_GRAFT_*`` tuning variable is passed through.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from procs import RssSampler, calibrate

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_lake_medallion_architecture_project_spark"
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
SESSION_STARTS = 5
# The end-to-end times are given for a reference host, on which the fixed
# loop of procs.calibrate takes this many CPU seconds: each is multiplied by
# CALIB_REF_S / host_calib_s. The busier other guests keep the host, the
# slower every instruction of this guest runs, the program's and the loop's
# alike; the scaling takes that out (see README.md).
CALIB_REF_S = 0.1
# Measured rounds per run after one warm-up round: passes over the query list,
# or lake cycles. The count is fixed so that every run measures the same work
# whatever the program's speed; --seconds only caps it (see CAP).
ROUNDS = {"olap_sql": 2, "curation_udf": 1, "lake_trickle": 2, "lake_backfill": 3}
# No new measured round starts once the measured rounds have taken CAP times
# --seconds, so a run still ends in time if the program gets much slower.
CAP = 2
# Lake workloads: Bronze rows per domain per cycle.
LAKE_ROWS = {"lake_trickle": 1500, "lake_backfill": 100_000}
WORKLOADS = tuple(ROUNDS)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    rounds: int
    cap_s: float
    data_dir: str
    work_dir: str
    marks: list = field(default_factory=list)

    def phase(self, name: str) -> None:
        """Start a named phase of the run; their wall times go to the report."""
        self.marks.append((name, time.perf_counter()))


def prepare_env(work_dir: str) -> dict:
    """Environment for the program and its Spark workers; returns what was
    found and changed, for the report."""
    removed = {k: os.environ.pop(k) for k in list(os.environ) if k.startswith("SPARK_GRAFT_")}
    # The master is local[nproc], passed the way the program reads it.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Spark's Python workers import the package from the checkout.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # Shuffle files and temporary files stay inside the run's directory.
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    return {
        "removed": removed,
        "set": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "tmp": tmp,
    }


def check_package() -> None:
    """The program must come from this checkout, not from anywhere else."""
    import importlib.util

    # After the benchmark's own directory, so its module names always win.
    sys.path.insert(1, ROOT)
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: package {PACKAGE} not found in {ROOT}")


def start_session(tmp: str):
    """get_spark with console progress off, then the first trivial action.
    Returns the session and its wall seconds."""
    from data_lake_medallion_architecture_project_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The JVM's temporary files (native libraries, artifacts) go to the
        # run's directory, and it keeps no performance-counter file in /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(ctx: Ctx, workload: str) -> dict:
    if workload in ("olap_sql", "curation_udf"):
        import queries

        names = queries.OLAP_SQL if workload == "olap_sql" else queries.CURATION_UDF
        return queries.run(ctx, names)
    import lake

    return lake.run(ctx, rows=LAKE_ROWS[workload], warm_cycles=1)


def emit(name: str, value, unit: str) -> None:
    print(f"metric {name} {value!r} {unit}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="the time the measured rounds are sized for; caps them at CAP times it")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data-dir", default=QUERY_DATA, help="query workloads' parquet tables")
    p.add_argument("--rounds", type=int, default=None,
                   help="measured passes or cycles (default: the workload's fixed count)")
    args = p.parse_args(argv)

    check_package()
    if not os.path.isfile(os.path.join(args.data_dir, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no query data in {args.data_dir}")

    import metrics
    from spans import JobCounter, NullTracer, Tracer

    # The metrics of the result line and their units, as BENCHMARK.json lists them.
    units = metrics.listed("per_layer" if args.trace else "end_to_end")
    config = {"data_dir": os.path.abspath(args.data_dir), "rounds": args.rounds}

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    work_root = os.path.join(os.getcwd(), ".perfbench_run")
    work_dir = os.path.join(work_root, f"{run_id}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    env = prepare_env(work_dir)
    spark = None
    marks = [("start", time.perf_counter())]
    try:
        with RssSampler() as rss:
            # Session starts: the first launches the JVM, the others start a
            # fresh session on it.
            starts = []
            for _ in range(SESSION_STARTS):
                if spark is not None:
                    spark.stop()
                spark, took = start_session(env["tmp"])
                starts.append(took)
            import pyspark

            info = {
                "master": spark.sparkContext.master,
                "cores": spark.sparkContext.defaultParallelism,
                "pyspark": pyspark.__version__,
                "spark_graft_env": env["set"],
                "spark_graft_env_removed": env["removed"],
            }
            print("info " + json.dumps(info, sort_keys=True))
            calib = calibrate()
            tracer = Tracer(run_id, JobCounter(spark)) if args.trace else NullTracer()
            rounds = args.rounds or ROUNDS[args.workload]
            ctx = Ctx(spark, tracer, args.seed, rounds, CAP * args.seconds, args.data_dir,
                      work_dir, marks)
            result = run_workload(ctx, args.workload)
            rss.sample()
            calib += calibrate()
            ctx.phase("stop")
            stop_spark(spark)
            spark = None
            ctx.phase("end")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run's directory is still there
            pass

    phases = {f"{a}_s": tb - ta for (a, ta), (_, tb) in zip(marks, marks[1:])}
    print("info phases " + json.dumps(phases))
    attempted, failed = result["attempted"], len(result["failures"])
    for key, why in sorted(result["failures"].items()):
        print(f"failure {key}: {why.strip().splitlines()[-1]}", file=sys.stderr)
    raw = {"setup_s": statistics.median(starts), **result["e2e"]}
    host_calib_s = statistics.median(calib)
    e2e = {k: v * CALIB_REF_S / host_calib_s for k, v in raw.items()}
    report = {
        **result["report"],
        "peak_rss_mb": rss.peak_mb,
        "setup_cold_s": starts[0],
        "session_starts": len(starts),
        "failed_frac": failed / attempted,
        "host_calib_s": host_calib_s,
        **{f"raw.{k}": v for k, v in raw.items()},
    }
    if args.trace:
        # A layer the workload does not call reads 0.
        layers = result["layers"]
        chosen = {k: layers.pop(k, 0.0) for k in units}
        report.update(layers)
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.json"))
        # Tracing overhead: this run's end-to-end figures against the last
        # untraced run of the same workload, seed, data and rounds, when there is one.
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        base = {}
        if os.path.exists(untraced):
            with open(untraced) as fh:
                saved = json.load(fh)
            if saved.get("config") == config:
                base = saved["e2e"]
        for k, v in e2e.items():
            if base.get(k):
                report[f"trace_overhead.{k}"] = v / base[k] - 1.0
    else:
        chosen = {k: e2e[k] for k in units}

    for k, v in e2e.items():
        emit(k, v, metrics.unit_of(k))
    for k, v in sorted(report.items()):
        emit(k, v, metrics.unit_of(k))
    if args.trace:
        for k, v in chosen.items():
            emit(k, v, units[k])
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump({"config": config, "e2e": e2e, "report": report, "samples": result["samples"],
                   "phases": phases,
                   "layers": chosen if args.trace else None, "info": info,
                   "failures": result["failures"]}, fh, indent=1, sort_keys=True)

    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
