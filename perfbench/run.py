"""The engine's benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each was chosen):

- `batch_reference`: passes over the reference's queries plus OLAP.
- `batch_llm_heavy`: passes over iterative-graph and pair-scoring queries.
- `stream_flagship_join`: the flagship stream-stream join, open loop
  then a closed-loop backlog drain.

`--seconds` is the stream's open-loop window. The batch workloads run a
fixed number of passes instead, because their passes still speed up
while they run and a time-based count moved the median.

With `--trace 0` the run reports the end-to-end metrics of
BENCHMARK.json; with `--trace 1` it reports the per-layer metrics,
records spans and writes them under `.bench_build/perfbench/traces`.
The last stdout line is the result; the line before it stamps the run
with its core count, versions, load average, scale and seed. The engine
runs at `local[N]` with N the number of usable cores. Results taken at
different core counts are not comparable.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PKG = "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"
WORKLOADS = ("batch_reference", "batch_llm_heavy", "stream_flagship_join")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_metrics(spec: dict, trace: int, values: dict[str, float]) -> dict:
    """The result's `metrics` object. The names must be exactly the
    BENCHMARK.json metrics of this mode: an unknown or missing name, or a
    value that is not a finite number, raises instead of printing."""
    declared = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    unknown = sorted(set(values) - set(units))
    missing = sorted(set(units) - set(values))
    if unknown or missing:
        raise ValueError(f"metric names differ from BENCHMARK.json: unknown {unknown}, missing {missing}")
    bad = [k for k, v in values.items() if not isinstance(v, (int, float)) or not math.isfinite(v)]
    if bad:
        raise ValueError(f"metrics without a finite value: {bad}")
    return {name: {"value": values[name], "unit": units[name]} for name in units}


def stop(spark) -> None:
    """Stop Spark, then end the JVM that PySpark launched and wait for it
    to exit: that JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spec = load_spec()
    loadavg = os.getloadavg()
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Spark's block manager, RocksDB state and temp files stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    sys.path.insert(0, ROOT)
    from importlib import import_module

    import pyspark
    from spans import Tracer

    get_spark = import_module(PKG).get_spark
    if args.workload == "stream_flagship_join":
        import stream as workload
        import batch as other
    else:
        import batch as workload
        import stream as other

        registry = import_module(f"{PKG}.plans.queries").REGISTRY
        absent = [q for q in workload.query_names(args.workload)
                  if q not in registry or registry[q][1] is None]
        if absent:
            raise SystemExit(f"queries missing from the registry or without an oracle: {absent}")

    tracer = Tracer() if args.trace else None
    t_get = time.perf_counter()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    get_spark_s = time.perf_counter() - t_get
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START
    if tracer:
        tracer.add("session.get_spark", "setup", t_get, t_get + get_spark_s)
    spark.sparkContext.setLogLevel("ERROR")
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "master": f"local[{cpus}]", "loadavg_at_start": loadavg,
        "pyspark": pyspark.__version__, "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    if args.workload == "stream_flagship_join":
        stamp.update(rate_per_s=workload.RATE, tick_s=workload.TICK_S,
                     backlog_rows=workload.BACKLOG_FILES * workload.BACKLOG_ROWS,
                     files_per_trigger=workload.FILES_PER_TRIGGER)
    else:
        stamp.update(sf=workload.SF, table_seed=workload.TABLE_SEED)

    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    try:
        if args.workload == "stream_flagship_join":
            out = workload.run(spark, args.seed, args.seconds, tracer, WORK, log)
        else:
            out = workload.run(spark, args.workload, args.seed, tracer,
                               os.path.join(WORK, "tables"), log)
    finally:
        stop(spark)

    if tracer:
        values = dict(out["layers"])
        for key in set(other.LAYER_METRICS) - set(workload.LAYER_METRICS) - set(values):
            values[key] = 0  # a layer this workload does not use
        values["session.get_spark_s"] = get_spark_s
        for layer, s in tracer.self_times().items():
            values[f"{layer}.self_s"] = s
        stamp["traced_end_to_end"] = out["e2e"]
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                    stamp)
    else:
        values = {**out["e2e"], "setup_s": setup_s}
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": result_metrics(spec, args.trace, values),
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
