"""The benchmark's metrics: what each one means, and what each one should move.

BENCHMARK.json names the metrics of the final JSON line and gives their units;
``listed`` reads them from there. This module only defines them: ``END_TO_END``
and ``PER_LAYER`` hold a definition for every name BENCHMARK.json may list, and
``REPORT`` holds the workload-specific figures that are printed as ``metric``
lines and written to the run's report but carry no bound.

Every workload emits every listed metric. A per-layer metric of a layer that a
workload does not call reads 0 on that workload. Each per-layer entry names the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import json
import os
import statistics

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

# name -> definition. Every end-to-end time is scaled to a reference host
# (run.CALIB_REF_S); the unscaled value is reported as raw.<name>.
END_TO_END = {
    "setup_s": (
        "wall seconds from get_spark (console progress off) to the end of the first "
        "trivial action; median of the run's session starts, the first of which also "
        "launches the JVM"
    ),
    "round_cpu_s": (
        "CPU seconds the process tree (Python driver, JVM, Python workers) spends on "
        "one round of the closed loop, median over the measured rounds: a pass over "
        "the query list on query workloads, landing Bronze to every Gold table committed "
        "on lake workloads"
    ),
    "query_cpu_p50_s": (
        "median CPU seconds of one query, without the JVM's JIT compiler threads, "
        "pooled over queries and rounds: Query.build "
        "plus collect on query workloads, TxnTable.read plus count of one Gold table on "
        "lake workloads, where every Gold table is read twice after each cycle"
    ),
    "query_cpu_tail_s": (
        "the highest percentile of the same samples that has at least 10 samples "
        "beyond it (percentile and count in the report)"
    ),
}

# name -> (definition, what it should move). Per round: medians over the
# measured rounds of each round's sum.
PER_LAYER = {
    "plans.build_s": (
        "self time of Query.build, per pass (0 on lake workloads)",
        "query_cpu_p50_s and round_cpu_s on olap_sql",
    ),
    "plans.build_jobs": (
        "Spark jobs started inside query builders, per pass (0 on lake workloads)",
        "query_cpu_p50_s and round_cpu_s on olap_sql",
    ),
    "sql.plan_s": (
        "time to force queryExecution().executedPlan() of every frame the round "
        "collects or counts",
        "query_cpu_p50_s on olap_sql",
    ),
    "exec.collect_s": (
        "time in the round's actions after planning: collect on query workloads, "
        "the Gold count on lake workloads",
        "round_cpu_s on olap_sql; query_cpu_p50_s on lake_trickle",
    ),
    "exec.jobs": ("Spark jobs started in the round", "round_cpu_s on both workloads"),
    "exec.stages": ("Spark stages run in the round", "round_cpu_s on both workloads"),
    "exec.tasks": ("Spark tasks run in the round", "round_cpu_s on both workloads"),
    "exec.eager_jobs": (
        "jobs started outside the round's actions: eager work inside query builders "
        "on query workloads, the pipeline's writes on lake workloads",
        "query_cpu_p50_s and round_cpu_s on olap_sql; round_cpu_s on lake_trickle",
    ),
    "sources.land_s": (
        "ingest_to_bronze for every domain, per cycle (0 on query workloads)",
        "round_cpu_s on lake_trickle",
    ),
    "streaming.ingest_s": (
        "run_incremental_ingest for every domain, per cycle (0 on query workloads)",
        "round_cpu_s on lake_trickle",
    ),
    "streaming.refresh_s": (
        "run_incremental_gold_refresh for every domain, per cycle, merges included; "
        "its self time is this minus storage.merge_s (0 on query workloads)",
        "round_cpu_s on lake_trickle",
    ),
    "storage.merge_s": (
        "TxnTable.merge_overwrite_partitions inside the refresh, per cycle "
        "(0 on query workloads)",
        "round_cpu_s on lake_trickle",
    ),
    "storage.read_s": (
        "TxnTable.read of the Gold tables after a cycle, both reads of each "
        "(0 on query workloads)",
        "query_cpu_p50_s and query_cpu_tail_s on lake_trickle",
    ),
    "storage.commits": (
        "commits in the Gold tables' transaction logs at the end of the run "
        "(0 on query workloads)",
        "query_cpu_p50_s on lake_trickle",
    ),
    "storage.live_files": (
        "live data files of the Gold tables at the end of the run (0 on query workloads)",
        "query_cpu_p50_s on lake_trickle",
    ),
}


def listed(kind: str) -> dict[str, str]:
    """The metrics BENCHMARK.json lists under ``kind`` ("end_to_end" or
    "per_layer"), name -> unit. Every one must be defined here."""
    with open(SPEC) as fh:
        entries = json.load(fh)[kind]
    defined = END_TO_END if kind == "end_to_end" else PER_LAYER
    unknown = [m["name"] for m in entries if m["name"] not in defined]
    if unknown:
        raise SystemExit(f"perfbench: BENCHMARK.json lists undefined {kind} metrics {unknown}")
    return {m["name"]: m["unit"] for m in entries}


# Workload-specific figures: name -> (unit, note). For a per-layer figure the
# note names the end-to-end metric and workload it should move.
REPORT = {
    # End to end, wall clock.
    "pass_s": ("s", "wall seconds of a pass over the query list (query workloads)"),
    "cycle_s": ("s", "wall seconds from landing Bronze to every Gold table committed"),
    "query_p50_s": ("s", "median wall latency of one query"),
    "query_tail_s": ("s", "wall latency at query_tail_percentile"),
    "ingest_rows_per_s": ("rows/s", "Bronze rows landed per second of cycle time"),
    "gold_read_s": ("s", "read and count every Gold table after a cycle (mean of the reads)"),
    "stored_bytes_per_input_byte": ("ratio", "bytes under the lake root per staging CSV byte"),
    "failed_frac": ("ratio", "operations that raised or failed a check, per operation"),
    "peak_rss_mb": (
        "MB",
        "peak resident memory of the process tree (Python driver, JVM, Python workers): "
        "the sum of each process's high-water mark",
    ),
    "host_calib_s": (
        "s",
        "CPU seconds of a fixed Python loop in the driver, median of five tries at "
        "the start and five at the end of the run: how fast the host ran the guest; "
        "the end-to-end times are scaled by CALIB_REF_S / host_calib_s",
    ),
    "query_tail_percentile": ("%", "the percentile query_tail_s and query_cpu_tail_s report"),
    "query_tail_beyond": ("count", "samples beyond that percentile"),
    "round_jit_cpu_s": (
        "s",
        "CPU seconds of the JVM's JIT compiler threads during one round, median over "
        "the measured rounds; a part of round_cpu_s",
    ),
    # Per layer, every workload.
    "exec.failed_tasks": ("count", "failed_frac on every workload"),
    # Per layer, query workloads: time of the queries whose builder reaches a module.
    "plans.medallion_s": ("s", "query_cpu_tail_s and round_cpu_s on olap_sql"),
    "plans.analytics_s": ("s", "query_cpu_tail_s and round_cpu_s on olap_sql"),
    "plans.temporal_s": ("s", "query_cpu_tail_s and round_cpu_s on olap_sql"),
    "operators.multimodal_s": ("s", "query_cpu_tail_s and round_cpu_s on curation_udf"),
    "operators.similarity_s": ("s", "query_cpu_tail_s and round_cpu_s on curation_udf"),
    "operators.dedup_s": ("s", "query_cpu_tail_s and round_cpu_s on curation_udf"),
    "functions.text_s": ("s", "query_cpu_tail_s and round_cpu_s on curation_udf"),
    "functions.sketches_s": ("s", "query_cpu_tail_s and round_cpu_s on curation_udf"),
    # query.<registry name>_s is added per measured query ("s").
    # Per layer, lake workloads.
    "streaming.ingest_rows": ("count", "ingest_rows_per_s on lake_trickle"),
    "streaming.refresh_days": ("count", "cycle_s and round_cpu_s on lake_trickle"),
    "storage.merge_calls": ("count", "cycle_s and round_cpu_s on lake_trickle"),
    "storage.snapshot_s": ("s", "gold_read_s and query_cpu_p50_s on lake_trickle"),
    "storage.silver_files": ("count", "stored_bytes_per_input_byte on lake_trickle"),
    "storage.bronze_bytes": ("bytes", "stored_bytes_per_input_byte on lake_trickle"),
    "storage.silver_bytes": ("bytes", "stored_bytes_per_input_byte on lake_trickle"),
    "storage.gold_bytes": ("bytes", "stored_bytes_per_input_byte on lake_trickle"),
    "storage.checkpoint_bytes": ("bytes", "stored_bytes_per_input_byte on lake_trickle"),
}


class Timings:
    """Wall and CPU seconds of a workload's rounds and queries."""

    def __init__(self):
        self.rounds, self.round_cpus, self.round_jits = [], [], []
        self.queries, self.query_cpus = [], []

    def round(self, wall: float, cpu: float, jit: float) -> None:
        self.rounds.append(wall)
        self.round_cpus.append(cpu)
        self.round_jits.append(jit)

    def query(self, wall: float, cpu: float) -> None:
        self.queries.append(wall)
        self.query_cpus.append(cpu)

    def extend(self, other: "Timings") -> None:
        for name in ("rounds", "round_cpus", "round_jits", "queries", "query_cpus"):
            getattr(self, name).extend(getattr(other, name))

    def summary(self, round_name: str) -> tuple[dict, dict]:
        """(end-to-end metrics, report figures); ``round_name`` is the
        workload's name for a round's wall time."""
        cpu_tail, pct, beyond = tail(self.query_cpus)
        wall_tail = tail(self.queries)[0]
        e2e = {
            "round_cpu_s": median(self.round_cpus),
            "query_cpu_p50_s": median(self.query_cpus),
            "query_cpu_tail_s": cpu_tail,
        }
        report = {
            round_name: median(self.rounds),
            "round_jit_cpu_s": median(self.round_jits),
            "query_p50_s": median(self.queries),
            "query_tail_s": wall_tail,
            "query_samples": len(self.queries),
            "query_tail_percentile": pct,
            "query_tail_beyond": beyond,
        }
        return e2e, report


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile of ``xs``
    that has at least 10 samples beyond it. With 10 samples or fewer no
    percentile qualifies, and the maximum is reported with 0 beyond it."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0, 0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def unit_of(name: str) -> str:
    """Unit of any figure the benchmark prints."""
    for kind in ("end_to_end", "per_layer"):
        units = listed(kind)
        if name in units:
            return units[name]
    if name in REPORT:
        return REPORT[name][0]
    if name.startswith("trace_overhead."):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"
