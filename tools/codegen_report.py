"""Per-pass generated-code report: does a query list fit the codegen cache?

Runs N passes over a list of registry queries in one ``get_spark`` session and
prints, for every pass, three JVM counters read around it:

* ``janino`` — classes Spark compiled with Janino
  (``CodegenMetrics.METRIC_COMPILATION_TIME`` count). A plan whose compiled
  classes are still in the generated-code cache compiles nothing, so after
  the first pass this should stay near 0. If it stays near the first pass's
  count, the list's working set does not fit
  ``spark.sql.codegen.cache.maxEntries``.
* ``loaded`` — classes the JVM loaded (``ClassLoadingMXBean``); every Janino
  compile loads new classes, which the JIT then compiles again.
* ``jit_ms`` — milliseconds the JIT compilers spent (``CompilationMXBean``).

The report only reads counters; the session runs with the program's
defaults (console progress off).

Usage:
  python tools/codegen_report.py [--passes N] [--sf-dir DIR] [query ...]

With no query names it runs every bench-tagged query. Prints one line per
pass and a final JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Sequence

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_lake_medallion_architecture_project_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    bench_queries,
)
from data_lake_medallion_architecture_project_spark.session import get_spark  # noqa: E402

DEFAULT_SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def counters(spark) -> dict:
    """Janino compiles, total loaded classes and JIT milliseconds so far."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    return {
        "janino": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
    }


def run_pass(spark, names: Sequence[str], sf_dir: str) -> dict:
    """Build and collect every query once; return the counter deltas."""
    before = counters(spark)
    t0 = time.perf_counter()
    for name in names:
        REGISTRY[name].build(spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    after = counters(spark)
    row = {k: after[k] - before[k] for k in before}
    row["wall_s"] = round(wall, 2)
    return row


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("queries", nargs="*", help="registry query names (default: bench-tagged)")
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = p.parse_args(argv)

    names = args.queries or sorted(bench_queries())
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"codegen_report: unknown queries: {', '.join(unknown)}")
    spark = get_spark("codegen_report", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    print(f"queries={len(names)} sf_dir={args.sf_dir} codegen.cache.maxEntries={cache}")

    passes = []
    for i in range(args.passes):
        row = run_pass(spark, names, args.sf_dir)
        passes.append(row)
        print(
            f"pass {i}: janino={row['janino']:5d} loaded={row['loaded']:6d} "
            f"jit_ms={row['jit_ms']:6d} wall_s={row['wall_s']:7.2f}"
        )
    spark.stop()

    print(json.dumps({
        "metric": "codegen_report",
        "sf_dir": args.sf_dir,
        "cache_max_entries": int(cache),
        "queries": names,
        "passes": passes,
    }))


if __name__ == "__main__":
    main()
