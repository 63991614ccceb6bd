"""Query workloads: repeated passes over a fixed list of registry queries.

One client in a closed loop: the next query is built only when the previous
one's rows have been collected. The seed permutes the query order of each
pass; the data is the bundled, read-only TPC-H-style parquet set. After the
measured passes, the rows of the last pass are compared with each query's
DuckDB oracle (row count, columns and an order-insensitive value hash).
"""

from __future__ import annotations

import importlib
import inspect
import os
import random
import time
import traceback

from metrics import Timings, median
from procs import jit_cpu_s, tree_cpu_s, work_cpu_s

# The bench-tagged tabular queries: the Gold aggregate analogues, the
# TPC-H-style join chains and windows, temporal as-of and session queries,
# bloom prefilter and skyline, the sketch queries and the reconciliation diff.
OLAP_SQL = (
    "daily_sales_summary",
    "daily_sales_summary_decimal",
    "category_sales_summary",
    "customer_activity_summary",
    "event_net_position",
    "pricing_summary",
    "customer_segment_revenue",
    "region_nation_revenue",
    "customer_top_orders",
    "order_count_distribution",
    "large_orders",
    "purchases_with_last_click",
    "native_session_windows",
    "clicks_after_purchase",
    "priority_revenue_ewma",
    "bloom_prefilter_orders",
    "part_price_volume_skyline",
    "nation_yoy_revenue",
    "customer_rfm_scores",
    "hll_weekly_users_md5",
    "order_price_ddsketch",
    "order_price_weighted_ddsketch",
    "kmv_priority_customer_overlap",
    "orders_reconciliation_diff",
)

# The bench-tagged document, embedding and media queries: dedup, exact and
# approximate similarity, hash embeddings, BPE, LM perplexity, BM25, media
# dHash decode and the WARC round trip.
CURATION_UDF = (
    "exact_dedup_documents",
    "normalized_dedup_documents",
    "doc_token_stats",
    "similarity_topk",
    "ivf_similarity_topk",
    "doc_hash_embedding_buckets",
    "doc_hash_embedding_dense_stats",
    "doc_source_logreg_scores",
    "embedding_blocked_near_dup_pairs",
    "image_dhash_catalog",
    "image_dhash_catalog_png",
    "warc_roundtrip_documents",
    "image_dhash_catalog_gif",
    "image_dhash_catalog_webp_full",
    "video_keyframe_dhash",
    "video_keyframe_dhash_avi",
    "bm25_search_docs",
    "pq_similarity_topk",
    "semantic_split_contamination",
    "bpe_encoded_token_counts",
    "bpe_token_counts_vocab",
    "doc_lm_perplexity",
    "doc_lm_perplexity_capped",
    "semdedup_keep_list",
    "substring_excised_documents",
    "segment_dedup_docs",
    "frequent_bigrams",
    "contrastive_training_triples",
    "dsir_importance_sample",
    "supplier_name_near_matches",
)

# Per-family time: the summed latency of the queries whose builder reaches
# the module (family metric name -> module under the package).
FAMILIES = {
    "plans.medallion_s": "plans.medallion",
    "plans.analytics_s": "plans.analytics",
    "plans.temporal_s": "plans.temporal",
    "operators.multimodal_s": "operators.multimodal",
    "operators.similarity_s": "operators.similarity",
    "operators.dedup_s": "operators.dedup",
    "functions.text_s": "functions.text",
    "functions.sketches_s": "functions.sketches",
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _code_names(code) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if inspect.iscode(const):
            names |= _code_names(const)
    return names


def _imported_module(name: str, package: str, children: set[str], current: str):
    """The package module a code name refers to through an import inside a
    function (``from ..operators.multimodal import x`` names
    ``operators.multimodal``), or None."""
    if name.split(".")[0] not in children:
        return None
    for cand in (f"{package}.{name}", f"{current.rsplit('.', 1)[0]}.{name}"):
        try:
            return importlib.import_module(cand)
        except ImportError:
            continue
    return None


def reached_modules(fn, package_name: str) -> set[str]:
    """Modules of the package a builder can reach: its own, and those of every
    package function, class or module its code names or imports, followed
    transitively."""
    package = importlib.import_module(package_name)
    children = {
        n.removesuffix(".py")
        for n in os.listdir(os.path.dirname(package.__file__))
        if not n.startswith("_")
    }
    mods: set[str] = set()
    seen: set[int] = set()
    todo = [fn]
    while todo:
        f = inspect.unwrap(todo.pop())
        f = getattr(f, "func", f)  # functools.partial and UDF wrappers
        if id(f) in seen or not hasattr(f, "__code__"):
            continue
        seen.add(id(f))
        mods.add(f.__module__)
        names = _code_names(f.__code__)
        for name in names:
            obj = f.__globals__.get(name)
            if obj is None:
                obj = _imported_module(name, package_name, children, f.__module__)
            if inspect.ismodule(obj):
                if obj.__name__.startswith(package_name):
                    mods.add(obj.__name__)
                    todo.extend(
                        getattr(obj, n) for n in names if callable(getattr(obj, n, None))
                    )
            elif inspect.isclass(obj):
                if obj.__module__.startswith(package_name):
                    mods.add(obj.__module__)
            elif callable(obj) and getattr(obj, "__module__", "").startswith(package_name):
                todo.append(obj)
    return {m[len(package_name) + 1 :] for m in mods if m.startswith(package_name + ".")}


def rows_to_pandas(rows, schema):
    """Collected rows as the pandas frame ``toPandas`` would give."""
    import pandas as pd
    from pyspark.sql.types import TimestampNTZType, TimestampType

    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.fieldNames())
    for f in schema.fields:
        if isinstance(f.dataType, (TimestampType, TimestampNTZType)):
            pdf[f.name] = pd.to_datetime(pdf[f.name])
    return pdf


def check_against_oracle(registry, results: dict, data_dir: str) -> dict[str, str]:
    """Compare each query's collected rows with its DuckDB oracle, as
    ``tools/check_oracle.py`` does. Returns query name -> problem, for the
    queries that differ."""
    import duckdb
    from tools.check_oracle import value_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        problems = {}
        for name, (rows, schema) in results.items():
            oracle = registry[name].oracle
            if oracle is None:
                continue
            got = rows_to_pandas(rows, schema)
            want = con.sql(oracle).df()
            if len(got) != len(want):
                problems[name] = f"row count {len(got)} vs oracle {len(want)}"
            elif sorted(got.columns) != sorted(want.columns):
                problems[name] = f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
            elif value_hash(got) != value_hash(want):
                problems[name] = "value hash differs from oracle"
        return problems
    finally:
        con.close()


def _pass(spark, tr, registry, order, data_dir, failures) -> tuple[Timings, dict]:
    """One pass over ``order``: its timings, and name -> (rows, schema)."""
    timings, results = Timings(), {}
    cpu, jit = tree_cpu_s(), jit_cpu_s()
    t_pass = time.perf_counter()
    with tr.span("pass"):
        for name in order:
            c0 = work_cpu_s()
            t0 = time.perf_counter()
            try:
                with tr.span("query", query=name):
                    with tr.span("plans.build"):
                        df = registry[name].build(spark, data_dir)
                    if tr.enabled:
                        with tr.span("sql.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.collect"):
                        rows = df.collect()
            except Exception:  # a failed query is counted, the loop goes on
                failures[f"{name}#{len(failures)}"] = traceback.format_exc(limit=3)
                continue
            timings.query(time.perf_counter() - t0, work_cpu_s() - c0)
            results[name] = (rows, df.schema)
    timings.round(time.perf_counter() - t_pass, tree_cpu_s() - cpu, jit_cpu_s() - jit)
    return timings, results


def run(ctx, names: tuple[str, ...]) -> dict:
    """One untimed warm-up pass, then ``ctx.rounds`` measured passes. A new
    pass starts only while the measured passes have taken less than
    ``ctx.cap_s``, a safety cap that a normal run stays well under."""
    from data_lake_medallion_architecture_project_spark.plans.registry import REGISTRY
    from spans import NullTracer

    missing = [n for n in names if n not in REGISTRY]
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")
    package = REGISTRY[names[0]].build.__module__.split(".")[0]
    reach = {n: reached_modules(REGISTRY[n].build, package) for n in names}

    rng = random.Random(ctx.seed)
    failures: dict[str, str] = {}

    def order() -> list[str]:
        out = list(names)
        rng.shuffle(out)
        return out

    # The first pass pays class loading, JIT compilation and code generation
    # for every query. Its CPU time swings with when the compiler threads run,
    # so it is not measured.
    ctx.phase("warmup")
    _pass(ctx.spark, NullTracer(), REGISTRY, order(), ctx.data_dir, failures)
    timings, last = Timings(), {}
    ctx.phase("measure")
    begin = time.perf_counter()
    while len(timings.rounds) < ctx.rounds and (
        not timings.rounds or time.perf_counter() - begin < ctx.cap_s
    ):
        one, last = _pass(ctx.spark, ctx.tracer, REGISTRY, order(), ctx.data_dir, failures)
        timings.extend(one)
    attempted = len(names) * (1 + len(timings.rounds))

    ctx.phase("check")
    for name, problem in check_against_oracle(REGISTRY, last, ctx.data_dir).items():
        failures[f"{name}#oracle"] = problem

    e2e, report = timings.summary("pass_s")
    out = {
        "e2e": e2e,
        "report": {**report, "passes": len(timings.rounds), "queries_per_pass": len(names)},
        "samples": vars(timings),
        "attempted": attempted,
        "failures": failures,
    }
    if ctx.tracer.enabled:
        out["layers"] = _layers(ctx.tracer, reach)
    return out


def _layers(tr, reach) -> dict:
    """Per-layer figures from the spans, each a median over passes of the
    per-pass sum."""
    from collections import defaultdict

    per_pass = defaultdict(list)
    query_s = defaultdict(list)
    for p in (s for s in tr.spans if s["name"] == "pass"):
        sums = defaultdict(float)
        for q in tr.children(p):
            dur = q["end"] - q["start"]
            query_s[q["attrs"]["query"]].append(dur)
            for metric, module in FAMILIES.items():
                if module in reach[q["attrs"]["query"]]:
                    sums[metric] += dur
            for c in tr.children(q):
                sums[c["name"] + "_s"] += tr.self_time(c)
                if c["name"] == "plans.build":
                    sums["plans.build_jobs"] += c["attrs"]["jobs"]
                if c["name"] != "exec.collect":
                    sums["exec.eager_jobs"] += c["attrs"]["jobs"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            sums["exec." + k] = p["attrs"][k]
        for k, v in sums.items():
            per_pass[k].append(v)
    layer = {k: median(v) for k, v in per_pass.items()}
    layer.update({f"query.{n}_s": median(v) for n, v in sorted(query_s.items())})
    return layer
