"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on small inputs: the query
workloads on the bundled sf0.001 tables for a warm-up and one measured pass,
the lake for two cycles (one warm-up, one measured). Checks that each run exits 0 with ``failed`` = 0, that its last
line carries exactly the metrics BENCHMARK.json lists for the mode, each with
its unit, and that every named figure is printed as a ``metric`` line with its
unit. Last, checks that the benchmark fails, without a result line, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits non-zero if any check fails. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import queries  # noqa: E402

SMALL_DATA = os.path.join(HERE, "data", "sf0.001")
QUERY_FIGURES = ("pass_s", "failed_frac", "query_tail_percentile", "query_tail_beyond")
LAKE_FIGURES = ("cycle_s", "ingest_rows_per_s", "gold_read_s", "stored_bytes_per_input_byte",
                "failed_frac")
QUERY_LAYERS = ("exec.failed_tasks",)
LAKE_LAYERS = tuple(k for k in metrics.REPORT if k.startswith(("sources.", "streaming.", "storage.")))
FAMILIES = {
    "olap_sql": ("plans.medallion_s", "plans.analytics_s", "plans.temporal_s",
                 "functions.sketches_s"),
    "curation_udf": ("operators.multimodal_s", "operators.similarity_s", "operators.dedup_s",
                     "functions.text_s"),
}


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    cmd += ["--rounds", "1"]
    if not workload.startswith("lake"):
        cmd += ["--data-dir", SMALL_DATA]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600, check=False)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    out = run(workload, trace)
    if out.returncode:
        return [f"exit {out.returncode}: {out.stderr[-1500:]}"]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if result["failed"] or not result["correct"] or result["attempted"] < 1:
        problems.append(f"failed {result['failed']} of {result['attempted']}")
    listed = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    if got != listed:
        problems.append(f"metrics {got} != BENCHMARK.json {listed}")
    printed = {}
    for line in lines:
        if line.startswith("metric "):
            _, name, value, unit = line.split(" ")
            printed[name] = unit
    wanted = list(metrics.END_TO_END)
    query = workload in FAMILIES
    wanted += QUERY_FIGURES if query else LAKE_FIGURES
    if trace:
        wanted += list(metrics.listed("per_layer"))
        wanted += [f"trace_overhead.{k}" for k in metrics.END_TO_END]
        if query:
            names = queries.OLAP_SQL if workload == "olap_sql" else queries.CURATION_UDF
            wanted += [*QUERY_LAYERS, *FAMILIES[workload], *(f"query.{n}_s" for n in names)]
        else:
            wanted += LAKE_LAYERS
    for name in wanted:
        if name not in printed:
            problems.append(f"no metric line for {name}")
        elif printed[name] != metrics.unit_of(name):
            problems.append(f"{name} printed with unit {printed[name]}")
    return problems


def check_without_program() -> list[str]:
    """Only BENCHMARK.json and perfbench/: the run must fail without a result."""
    scratch = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch, prefix="bare-") as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = run("olap_sql", 0, cwd=bare)
    if out.returncode == 0 or out.stdout.strip().startswith("{"):
        return [f"bare directory: exit {out.returncode}, stdout {out.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failed = False
    for workload in ("olap_sql", "curation_udf", "lake_trickle"):
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            failed |= bool(problems)
            print(f"{workload} trace={trace}: " + ("ok" if not problems else "; ".join(problems)),
                  flush=True)
    problems = check_without_program()
    failed |= bool(problems)
    print("bare directory: " + ("ok" if not problems else "; ".join(problems)))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
