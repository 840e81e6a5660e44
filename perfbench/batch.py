"""Batch workloads: passes over a fixed set of registry queries.

Each query is built with its registry function `fn(spark, sf_dir)` and
forced through the `noop` sink, so the whole plan runs and nothing is
collected. A run makes, in one session:

1. an untimed correctness pass: every result is collected and compared
   with the query's DuckDB oracle over the same tables;
2. an untimed warm-up pass, since the JVM is still compiling hot code;
3. a fixed number of timed passes.

The seed shuffles the query order of every pass; the tables are fixed.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import math
import os
import pickle
import random
import sys
import time
from collections import Counter
from statistics import median

import duckdb

import tables
from spans import Tracer, catalyst_phases, group_stats, job_group, percentile

PKG = "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"

#: Workload -> query group -> registry query names.
WORKLOADS: dict[str, dict[str, tuple[str, ...]]] = {
    # The reference's own surface (decode, parse, join, windows) plus
    # OLAP joins: fixed per-query costs (schema inference on every
    # load, Catalyst, job scheduling) dominate; little data per query.
    "batch_reference": {
        "reference": (
            "flagship_stedi_join",
            "json_parse_flatten",
            "risk_calc_per_customer",
            "sessionization_gap30",
            "tpch_q1_pricing_summary",
            "tpch_q5_local_supplier_volume",
            "asof_latest_order_before_event",
            "top_events_per_user",
        ),
    },
    # The LLM-pipeline heavy tail: iterative graph queries that run
    # their loop's jobs while the plan is being built, and pair scoring
    # whose work is in execution and shuffles.
    "batch_llm_heavy": {
        "iterative": ("kcore_parts_copurchase",),
        "pairs": ("setsim_prefix_filter_pairs", "symdelete_ed1_pairs"),
    },
}

#: Scale factor of the generated tables (sf=1 would be 6M lineitems).
SF = 0.01
#: The batch tables are fixed; the run's seed only orders the queries.
TABLE_SEED = 42
#: Timed passes per run, after the untimed correctness and warm-up passes.
TIMED_PASSES = 3

#: Per-layer metrics this module measures (stream metrics read 0 here).
LAYER_METRICS = (
    "sources.load_calls", "sources.load_s", "sources.load_jobs", "sources.direct_load_s",
    "plans.build_s", "plans.build_jobs", "iterative.build_s", "iterative.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.executor_run_ms", "exec.gc_ms",
    "pairs.exec_s", "pairs.shuffle_write_bytes", "trace.overhead_pct",
)


def query_names(workload: str) -> list[str]:
    return [q for group in WORKLOADS[workload].values() for q in group]


def group_of(workload: str) -> dict[str, str]:
    return {q: g for g, qs in WORKLOADS[workload].items() for q in qs}


# -- correctness ----------------------------------------------------------------


def norm_cell(v) -> str:
    """One cell as a string that compares equal across Spark and DuckDB
    (decimals unpadded, floats by repr, naive ISO timestamps, hex bytes)."""
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return "\0NULL" if v is None else str(v)


def normalized(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name (case-insensitive names), rows as sorted
    tuples of normalized cells in that column order: the comparison is
    independent of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    cols = [columns[i].lower() for i in order]
    return cols, sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def mismatch(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """Why a Spark result differs from its oracle, or None if it matches."""
    sc, sr = normalized(spark_cols, spark_rows)
    dc, dr = normalized(duck_cols, duck_rows)
    if sc != dc:
        return f"columns differ: spark={sc} oracle={dc}"
    if len(sr) != len(dr):
        return f"row counts differ: spark={len(sr)} oracle={len(dr)}"
    if sr != dr:
        return "values differ"
    return None


def oracle_result(table_dir: str, name: str, sql: str) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of a query's DuckDB oracle over `table_dir`. The
    tables are fixed, so the result is computed once and kept beside
    them, keyed by the oracle's SQL."""
    digest = hashlib.sha256(sql.encode()).hexdigest()[:12]
    path = os.path.join(table_dir, f"oracle-{name}-{digest}.pkl")
    if not os.path.exists(path):
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
            res = con.execute(sql)
            result = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(result, fh)
        os.rename(tmp, path)
    with open(path, "rb") as fh:
        return pickle.load(fh)


# -- traced run helpers -----------------------------------------------------------


@contextlib.contextmanager
def traced_loads(tracer: Tracer, sc, op: str, calls: list[dict]):
    """Wrap the `load_table` name each plans module binds, so every load
    a query builder makes is a `sources.load_table` span with its own
    job group. Restores the original binding on exit."""
    files = sys.modules[f"{PKG}.sources.files"]
    original = files.load_table
    modules = [
        m for name, m in list(sys.modules.items())
        if name.startswith(f"{PKG}.plans.") and getattr(m, "load_table", None) is original
    ]

    def load_table(spark, sf_dir, name):
        group = f"load:{op}:{len(calls)}"
        with tracer.span("sources.load_table", op, table=name), job_group(sc, group):
            t = time.perf_counter()
            df = original(spark, sf_dir, name)
            calls.append({"group": group, "s": time.perf_counter() - t})
        return df

    for m in modules:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in modules:
            m.load_table = original


def _traced_query(spark, tracer, fn, table_dir, op) -> dict:
    """Build, plan and run one query under spans; return its layer counts."""
    sc = spark.sparkContext
    loads: list[dict] = []
    with tracer.span("op.query", op):
        with tracer.span("plans.build", op), job_group(sc, f"build:{op}"), \
                traced_loads(tracer, sc, op, loads):
            t0 = time.perf_counter()
            df = fn(spark, table_dir)
            build_s = time.perf_counter() - t0
        with tracer.span("catalyst.plan", op):
            phases = catalyst_phases(df)
        with tracer.span("exec.write", op), job_group(sc, f"exec:{op}"):
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = time.perf_counter() - t1
    ex = group_stats(sc, f"exec:{op}")
    return {
        "sources.load_calls": len(loads),
        "sources.load_s": sum(c["s"] for c in loads),
        "sources.load_jobs": sum(group_stats(sc, c["group"])["jobs"] for c in loads),
        "plans.build_s": build_s,
        "plans.build_jobs": group_stats(sc, f"build:{op}")["jobs"],
        "catalyst.analysis_ms": phases["analysis"],
        "catalyst.optimization_ms": phases["optimization"],
        "catalyst.planning_ms": phases["planning"],
        "exec.s": exec_s,
        **{f"exec.{k}": v for k, v in ex.items()},
    }


# -- the workload -----------------------------------------------------------------


def run(spark, workload: str, seed: int, tracer: Tracer | None, cache_dir: str, log) -> dict:
    from importlib import import_module

    registry = import_module(f"{PKG}.plans.queries").REGISTRY
    names = query_names(workload)
    table_dir = tables.ensure_tables(cache_dir, TABLE_SEED, SF)
    rng = random.Random(seed)
    attempted = failed = 0

    # untimed: every result checked once against its DuckDB oracle
    t_check = time.perf_counter()
    for name in rng.sample(names, len(names)):
        fn, sql = registry[name]
        attempted += 1
        try:
            df = fn(spark, table_dir)
            why = mismatch(df.columns, df.collect(), *oracle_result(table_dir, name, sql))
        except Exception as exc:  # a failing query is counted, not fatal
            why = f"raised {type(exc).__name__}: {exc}"
        if why:
            failed += 1
            log(f"CORRECTNESS FAILURE {workload}/{name}: {why}")
    check_s = time.perf_counter() - t_check
    # untimed: the JVM is still compiling hot code after one pass
    t_warm = time.perf_counter()
    for name in rng.sample(names, len(names)):
        registry[name][0](spark, table_dir).write.format("noop").mode("overwrite").save()
    warm_s = time.perf_counter() - t_warm

    # timed passes: a fixed count, since the JVM is still warming and a
    # time-based count moved the median; the traced run alternates
    # untraced and traced passes so their medians compare in one JVM
    modes = [False, True] * TIMED_PASSES if tracer else [False] * TIMED_PASSES
    pass_s: dict[bool, list[float]] = {False: [], True: []}
    latencies: dict[str, list[float]] = {name: [] for name in names}
    per_pass: list[Counter] = []
    groups = group_of(workload)
    for k, traced in enumerate(modes):
        totals: Counter = Counter()
        t_pass = time.perf_counter()
        for name in rng.sample(names, len(names)):
            fn = registry[name][0]
            attempted += 1
            t_q = time.perf_counter()
            try:
                if traced:
                    counts = _traced_query(spark, tracer, fn, table_dir, f"p{k}:{name}")
                    totals.update(counts)
                    if groups[name] == "iterative":
                        totals["iterative.build_s"] += counts["plans.build_s"]
                        totals["iterative.build_jobs"] += counts["plans.build_jobs"]
                    elif groups[name] == "pairs":
                        totals["pairs.exec_s"] += counts["exec.s"]
                        totals["pairs.shuffle_write_bytes"] += counts["exec.shuffle_write_bytes"]
                else:
                    fn(spark, table_dir).write.format("noop").mode("overwrite").save()
                    latencies[name].append(time.perf_counter() - t_q)
            except Exception as exc:
                failed += 1
                log(f"QUERY FAILURE {workload}/{name}: {type(exc).__name__}: {exc}")
        pass_s[traced].append(time.perf_counter() - t_pass)
        if traced:
            per_pass.append(totals)

    # a query's latency is its median over the timed passes, so one slow
    # pass does not decide the workload's slowest-query percentile
    query_s = [median(v) for v in latencies.values() if v]
    e2e = {
        "pass_s": median(pass_s[False]),
        "event_latency_p50_ms": 1000 * percentile(query_s, 50),
        "event_latency_p90_ms": 1000 * percentile(query_s, 90),
    }
    log(f"{workload}: correctness pass {check_s:.2f} s, warm-up pass {warm_s:.2f} s, timed passes "
        f"{[round(p, 3) for p in pass_s[False]]}, per-query medians {[round(q, 3) for q in query_s]}")
    layers: dict[str, float] = {}
    if tracer:
        keys = set(LAYER_METRICS) - {"sources.direct_load_s", "trace.overhead_pct"}
        layers = {key: median([p[key] for p in per_pass]) for key in keys}
        layers["sources.direct_load_s"] = _direct_loads(spark, tracer, table_dir)
        untraced = median(pass_s[False])
        layers["trace.overhead_pct"] = 100 * (median(pass_s[True]) - untraced) / untraced
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}


def _direct_loads(spark, tracer: Tracer, table_dir: str) -> float:
    """Seconds for one direct `load_table` call per table, each a span."""
    files = sys.modules[f"{PKG}.sources.files"]
    total = 0.0
    for t in tables.TABLES:
        with tracer.span("sources.load_table", f"direct:{t}", table=t) as rec:
            files.load_table(spark, table_dir, t)
        total += rec["end"] - rec["start"]
    return total
