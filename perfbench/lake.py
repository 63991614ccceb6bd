"""Lake workloads: the pipeline's cycle on a simulated daily clock.

Each cycle lands one pre-generated staging CSV per domain in Bronze
(``sources.writers.ingest_to_bronze``), runs the streaming Bronze->Silver
ingest and the incremental Silver->Gold refresh per domain, then reads and
counts every Gold table twice. The clock advances one day per cycle, so Silver
history, transaction-log commits and live files grow over the run.

Every input is derived from the seed and the simulated clock, and all staging
CSVs are written before timing starts. After the measured cycles the Silver
row count is checked against the distinct Bronze ids, and every committed Gold
table against a full ``plans.gold.build_all_gold`` recompute over Silver.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import Counter
from datetime import datetime, timedelta, timezone

from metrics import Timings, median
from procs import jit_cpu_s, tree_cpu_s, work_cpu_s

# An analyst reads every Gold table this many times after each cycle.
READS_PER_CYCLE = 2


def _dir_bytes(path: str, suffix: str | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``; only files ending in ``suffix`` if given."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if suffix is None or n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def stage_inputs(staging: str, seed: int, cycles: int, rows: int) -> list[dict]:
    """Write every cycle's staging CSVs. Returns one entry per cycle:
    its clock, staged paths, row counts and distinct-id counts per domain."""
    import pandas as pd

    from data_lake_medallion_architecture_project_spark.schemas import BRONZE_SCHEMAS
    from data_lake_medallion_architecture_project_spark.sources.synthetic import GENERATORS

    # Noon keeps every generated timestamp (now minus at most two minutes)
    # on the cycle's own day.
    base = datetime(2024, 1, 1, 12, tzinfo=timezone.utc) + timedelta(days=seed % 365)
    plan = []
    for c in range(cycles):
        now = base + timedelta(days=c)
        cycle = {"now": now, "paths": {}, "rows": {}, "distinct": {}}
        for d, (domain, gen) in enumerate(GENERATORS.items()):
            recs = gen(seed=seed * 1_000_003 + c * 16 + d, n=rows, now=now)
            fields = [f.name for f in BRONZE_SCHEMAS[domain].fields]
            path = os.path.join(staging, domain, f"{domain}_c{c:05d}.csv")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pd.DataFrame.from_records(recs, columns=fields).to_csv(path, index=False)
            cycle["paths"][domain] = path
            cycle["rows"][domain] = len(recs)
            cycle["distinct"][domain] = len({r[fields[0]] for r in recs})
        plan.append(cycle)
    return plan


def _traced_storage(tr):
    """Wrap ``TxnTable.merge_overwrite_partitions`` and ``TxnTable.snapshot``
    in spans, for the traced run only. Returns a function that unwraps them."""
    from data_lake_medallion_architecture_project_spark.storage import TxnTable

    originals = {
        "merge_overwrite_partitions": ("storage.merge", TxnTable.merge_overwrite_partitions),
        "snapshot": ("storage.snapshot", TxnTable.snapshot),
    }

    def wrap(span_name, fn):
        def traced(self, *args, **kwargs):
            with tr.span(span_name, table=os.path.basename(self.path)):
                return fn(self, *args, **kwargs)

        return traced

    for attr, (span_name, fn) in originals.items():
        setattr(TxnTable, attr, wrap(span_name, fn))

    def restore():
        for attr, (_, fn) in originals.items():
            setattr(TxnTable, attr, fn)

    return restore


def run(ctx, rows: int, warm_cycles: int) -> dict:
    """Warm-up cycles, then ``ctx.rounds`` measured cycles. A new measured
    cycle starts only while the measured cycles have taken less than
    ``ctx.cap_s``, a safety cap that a normal run stays well under."""
    from data_lake_medallion_architecture_project_spark.plans.gold import (
        GOLD_BUILDERS,
        build_all_gold,
    )
    from data_lake_medallion_architecture_project_spark.schemas import BRONZE_SCHEMAS
    from data_lake_medallion_architecture_project_spark.sources.readers import read_silver
    from data_lake_medallion_architecture_project_spark.sources.writers import ingest_to_bronze
    from data_lake_medallion_architecture_project_spark.streaming.ingest import (
        run_incremental_ingest,
    )
    from data_lake_medallion_architecture_project_spark.streaming.refresh import (
        gold_table,
        run_incremental_gold_refresh,
    )

    spark, tr = ctx.spark, ctx.tracer
    staging = os.path.join(ctx.work_dir, "staging")
    lake = os.path.join(ctx.work_dir, "lake")
    bronze, silver, gold, ckpt = (os.path.join(lake, d) for d in ("bronze", "silver", "gold", "_checkpoints"))
    ctx.phase("stage")
    plan = stage_inputs(staging, ctx.seed, warm_cycles + ctx.rounds, rows)

    restore = _traced_storage(tr) if tr.enabled else None
    attempted, failures = 0, {}

    def op(key, fn, *args, **kwargs):
        nonlocal attempted
        attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # a failed call is counted, the cycle goes on
            failures[key] = traceback.format_exc(limit=3)
            return None

    cycles, measured, timings = [], [], Timings()
    begin = None
    try:
        for c, cycle in enumerate(plan):
            if c == 0:
                ctx.phase("warmup")
            if c == warm_cycles:
                ctx.phase("measure")
                begin = time.perf_counter()
            now, stamp = cycle["now"], cycle["now"].isoformat()
            cpu0, jit0 = tree_cpu_s(), jit_cpu_s()
            t0 = time.perf_counter()
            with tr.span("cycle", cycle=c) as cyc:
                for domain, path in cycle["paths"].items():
                    with tr.span("sources.land", domain=domain):
                        op(f"land/{domain}/{c}", ingest_to_bronze, path, bronze, domain, ingest_time=now)
                for domain in cycle["paths"]:
                    with tr.span("streaming.ingest", domain=domain) as s:
                        s["attrs"]["rows"] = op(
                            f"ingest/{domain}/{c}", run_incremental_ingest,
                            spark, bronze, silver, ckpt, domain, processed_at=stamp,
                        ) or 0
                    with tr.span("streaming.refresh", domain=domain) as s:
                        s["attrs"]["days"] = len(op(
                            f"refresh/{domain}/{c}", run_incremental_gold_refresh,
                            spark, silver, gold, ckpt, domain, generated_at=stamp,
                        ) or [])
            cycle_s = time.perf_counter() - t0
            cycle_cpu_s = tree_cpu_s() - cpu0
            cycle_jit_s = jit_cpu_s() - jit0

            t_read, reads = time.perf_counter(), Timings()
            with tr.span("gold_read", cycle=c):
                for table in [*GOLD_BUILDERS] * READS_PER_CYCLE:
                    c1 = work_cpu_s()
                    t1 = time.perf_counter()
                    try:
                        attempted += 1
                        with tr.span("storage.read", table=table):
                            counted = gold_table(gold, table).read(spark).groupBy().count()
                        if tr.enabled:
                            with tr.span("sql.plan"):
                                counted._jdf.queryExecution().executedPlan()
                        with tr.span("exec.collect"):
                            counted.collect()
                    except Exception:  # counted, the reads go on
                        failures[f"read/{table}/{c}/{attempted}"] = traceback.format_exc(limit=3)
                        continue
                    reads.query(time.perf_counter() - t1, work_cpu_s() - c1)
            gold_read_s = (time.perf_counter() - t_read) / READS_PER_CYCLE

            if c >= warm_cycles:
                rows_in = sum(cycle["rows"].values())
                cycles.append({"gold_read_s": gold_read_s, "rows_per_s": rows_in / cycle_s,
                               "span": cyc})
                reads.round(cycle_s, cycle_cpu_s, cycle_jit_s)
                timings.extend(reads)
                measured.append(c)
                if time.perf_counter() - begin >= ctx.cap_s:
                    break
    finally:
        if restore:
            restore()

    ctx.phase("check")
    landed = plan[: measured[-1] + 1]
    # Correctness, outside the timed cycles. Each check counts as an operation.
    for domain in BRONZE_SCHEMAS:
        attempted += 1
        want = sum(c["distinct"][domain] for c in landed)
        got = read_silver(spark, silver, domain).count()
        if got != want:
            failures[f"silver/{domain}"] = f"Silver has {got} rows, distinct Bronze ids {want}"
    frames = {d: read_silver(spark, silver, d) for d in BRONZE_SCHEMAS}
    for table, expected in build_all_gold(frames, generated_at="recompute").items():
        attempted += 1
        committed = gold_table(gold, table).read(spark).drop("generated_at")
        expected = expected.drop("generated_at")
        if sorted(committed.columns) != sorted(expected.columns):
            failures[f"gold/{table}"] = f"columns {committed.columns} vs {expected.columns}"
            continue
        # Gold tables are small: compare them as multisets of rows.
        got = Counter(map(tuple, committed.collect()))
        want = Counter(map(tuple, expected.select(*committed.columns).collect()))
        if got != want:
            failures[f"gold/{table}"] = (
                f"{sum((got - want).values())} rows not in the recompute, "
                f"{sum((want - got).values())} missing"
            )

    input_bytes = sum(
        os.path.getsize(p) for c in landed for p in c["paths"].values()
    )
    stored, _ = _dir_bytes(lake)
    e2e, report = timings.summary("cycle_s")
    out = {
        "e2e": e2e,
        "report": {
            **report,
            "ingest_rows_per_s": median([c["rows_per_s"] for c in cycles]),
            "gold_read_s": median([c["gold_read_s"] for c in cycles]),
            "stored_bytes_per_input_byte": stored / input_bytes,
            "warm_cycles": warm_cycles,
            "measured_cycles": len(cycles),
            "rows_per_domain_per_cycle": rows,
        },
        "samples": vars(timings),
        "attempted": attempted,
        "failures": failures,
    }
    if tr.enabled:
        out["layers"] = _layers(tr, cycles, lake, gold, gold_table, GOLD_BUILDERS)
    return out


def _layers(tr, cycles, lake, gold, gold_table, gold_builders) -> dict:
    """Per-layer figures from the spans of the measured cycles (medians over
    cycles of per-cycle sums) and from the lake's files at the end."""
    from collections import defaultdict

    per_cycle = defaultdict(list)
    accounts = []
    reads_by_cycle = {s["attrs"]["cycle"]: s for s in tr.spans if s["name"] == "gold_read"}
    for entry in cycles:
        cyc = entry["span"]
        read = reads_by_cycle[cyc["attrs"]["cycle"]]
        sums = defaultdict(float)
        own = 0.0
        for s in tr.descendants(cyc):
            sums[s["name"] + "_s"] += s["end"] - s["start"]
            own += tr.self_time(s)
            if s["name"] == "storage.merge":
                sums["storage.merge_calls"] += 1
            elif s["name"] == "streaming.ingest":
                sums["streaming.ingest_rows"] += s["attrs"]["rows"]
            elif s["name"] == "streaming.refresh":
                sums["streaming.refresh_days"] += s["attrs"]["days"]
                sums["streaming.refresh_self_s"] += tr.self_time(s)
        # Snapshots inside a cycle are the merges' own log replays.
        sums["storage.merge_snapshot_s"] = sums.pop("storage.snapshot_s", 0.0)
        remainder = tr.self_time(cyc)
        sums["cycle.unattributed_s"] = remainder
        # Layer self times plus the untraced remainder must make up the cycle.
        accounts.append(abs(own + remainder - (cyc["end"] - cyc["start"])))
        for s in tr.descendants(read):
            sums[s["name"] + "_s"] += s["end"] - s["start"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            sums["exec." + k] = cyc["attrs"][k] + read["attrs"][k]
        sums["exec.eager_jobs"] = cyc["attrs"]["jobs"]
        for k, v in sums.items():
            per_cycle[k].append(v)
    layer = {k: median(v) for k, v in per_cycle.items()}
    layer["cycle.accounting_error_s"] = max(accounts)

    commits = live = 0
    for table in gold_builders:
        snap = gold_table(gold, table).snapshot()
        commits += snap.version + 1
        live += len(snap.files)
    layer["storage.commits"] = commits
    layer["storage.live_files"] = live
    layer["storage.bronze_bytes"] = _dir_bytes(os.path.join(lake, "bronze"))[0]
    layer["storage.silver_bytes"] = _dir_bytes(os.path.join(lake, "silver"))[0]
    layer["storage.silver_files"] = _dir_bytes(os.path.join(lake, "silver"), ".parquet")[1]
    layer["storage.gold_bytes"] = _dir_bytes(gold)[0]
    layer["storage.checkpoint_bytes"] = _dir_bytes(os.path.join(lake, "_checkpoints"))[0]
    return layer
