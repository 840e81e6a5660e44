"""Streaming workload: the reference's flagship stream-stream join.

`plans.pipelines.flagship_join_pipeline` (fidelity mode, no watermark)
joins two file-stream sources of Kafka-shaped `(key, value)` envelopes
and lands the result with the `streaming.sinks.to_parquet` sink.

- Customers (Redis changefeed envelopes) are written before the query
  starts; their first micro-batch is the untimed warm-up.
- Risk events are written open loop by the benchmark process while the
  engine runs in the JVM: one file per tick, each renamed into place at
  its due time, on a schedule that does not wait for the engine. Event latency runs from a file's due time to
  the commit of the micro-batch that consumed it.
- After the open-loop window a fixed backlog directory is renamed in at
  once and drained under a fixed per-trigger file cap (closed loop).

All inputs derive from the seed; the sink's rows are checked against
what the generator's model predicts.
"""

from __future__ import annotations

import base64
import contextlib
import datetime
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

from spans import Tracer, group_stats, job_group, percentile

PKG = "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"

#: Risk events offered per second during the open-loop window.
RATE = 1000
#: One event file per tick; a generator later than one tick voids the run.
TICK_S = 0.1
ROWS_PER_FILE = round(RATE * TICK_S)
N_CUSTOMERS = 2000
#: Envelopes the pipeline must drop (null email or null birthDay).
N_INVALID = 100
#: Event emails with no customer record (dropped by the inner join).
N_GHOSTS = 200
#: The closed-loop backlog and the per-trigger file cap that drains it.
BACKLOG_FILES = 120
BACKLOG_ROWS = 500
FILES_PER_TRIGGER = 20

KV_SCHEMA = "key STRING, value STRING"
CUSTOMER_KEY = base64.b64encode(b"Customer").decode()
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
#: Layer of each micro-batch phase, for spans and self time.
PHASE_LAYER = {"latestOffset": "sources", "getBatch": "sources", "queryPlanning": "catalyst",
               "addBatch": "exec", "walCommit": "stream", "commitOffsets": "stream"}

#: Per-layer metrics this module measures (batch-only metrics read 0 here).
LAYER_METRICS = (
    "stream.batches", "stream.batch_rows_p50", "stream.drain_rows_per_s",
    *(f"stream.{p}_ms_{q}" for p in ("trigger", *PHASES) for q in ("p50", "p90")),
    "state.rows_total_end", "state.memory_bytes_end", "state.commit_ms_p50",
    "state.rows_dropped_by_watermark", "source.backlog_rows_max", "generator.late_ms_max",
)


# -- inputs and the output model --------------------------------------------------


def row_digest(rows) -> tuple[int, int]:
    """Order-independent (count, digest) of (customer, score, email,
    birthYear) tuples: the sum of per-row SHA-256 prefixes mod 2**64."""
    total = n = 0
    for row in rows:
        h = hashlib.sha256("\x1f".join(row).encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return n, total


@dataclass
class Inputs:
    customers: bytes
    window: list[bytes]
    backlog: list[bytes]
    expected: tuple[int, int]
    rows: list[int]


def _envelope(customer: dict) -> str:
    element = base64.b64encode(json.dumps(customer).encode()).decode()
    value = {"key": CUSTOMER_KEY, "existType": "NONE", "Ch": False, "Incr": False,
             "zSetEntries": [{"element": element, "Score": "0.0"}]}
    return json.dumps({"key": CUSTOMER_KEY, "value": json.dumps(value)})


def build_inputs(seed: int, window_files: int) -> Inputs:
    """Every input file's bytes and the join output they must produce."""
    rng = np.random.default_rng(seed)
    birth = {}
    lines = []
    for i in range(N_CUSTOMERS):
        email = f"u{i:05d}@stedi.test"
        day = f"{1940 + rng.integers(0, 60)}-{1 + rng.integers(0, 12):02d}-{1 + rng.integers(0, 28):02d}"
        birth[email] = day[:4]
        lines.append(_envelope({"customerName": f"Customer {i}", "email": email,
                                "phone": f"555-{i:04d}", "birthDay": day}))
    for i in range(N_INVALID):  # alternately no email, or no birthDay
        c = {"customerName": f"Invalid {i}", "phone": "555-0000"}
        if i % 2:
            c["email"] = f"nobirth{i}@stedi.test"
        else:
            c["birthDay"] = "1970-01-01"
        lines.append(_envelope(c))
    order = rng.permutation(len(lines))
    customers = ("\n".join(lines[k] for k in order) + "\n").encode()

    emails = list(birth) + [f"ghost{i}@stedi.test" for i in range(N_GHOSTS)] + [
        f"nobirth{i}@stedi.test" for i in range(1, N_INVALID, 2)]
    matched: list[tuple[str, str, str, str]] = []
    base_ms = 1_600_000_000_000 + int(rng.integers(0, 10**9))

    def event_file(n_rows: int, first: int) -> bytes:
        picks = rng.integers(0, len(emails), n_rows)
        scores = rng.integers(-50, 150, n_rows)
        out = []
        for j in range(n_rows):
            email = emails[picks[j]]
            score = f"{scores[j] / 10:.1f}"
            stamp = datetime.datetime.fromtimestamp((base_ms + first + j) / 1000, datetime.UTC)
            value = {"customer": email, "score": score,
                     "riskDate": stamp.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"}
            out.append(json.dumps({"key": email, "value": json.dumps(value)}))
            if email in birth:
                matched.append((email, score, email, birth[email]))
        return ("\n".join(out) + "\n").encode()

    window = [event_file(ROWS_PER_FILE, k * ROWS_PER_FILE) for k in range(window_files)]
    offset = window_files * ROWS_PER_FILE
    backlog = [event_file(BACKLOG_ROWS, offset + k * BACKLOG_ROWS) for k in range(BACKLOG_FILES)]
    rows = [ROWS_PER_FILE] * window_files + [BACKLOG_ROWS] * BACKLOG_FILES
    return Inputs(customers, window, backlog, row_digest(matched), rows)


# -- latency mapping ----------------------------------------------------------------


def epoch_s(timestamp: str) -> float:
    """A progress report's ISO-8601 UTC `timestamp` as epoch seconds."""
    dt = datetime.datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.UTC).timestamp()


def source_rows(progress: dict, marker: str) -> int:
    return sum(s["numInputRows"] for s in progress["sources"] if marker in s["description"])


def commit_times(file_rows: list[int], progress: list[dict], marker: str) -> list[float]:
    """Epoch commit time of the micro-batch that consumed each file.

    Files hold known row counts and the file source consumes them whole,
    oldest first, so a batch's cumulative `numInputRows` for the source
    whose description contains `marker` says exactly which files it
    read. Raises if a batch boundary falls inside a file or rows are
    left over, since then the mapping would be a guess."""
    out: list[float] = []
    consumed = 0
    ends = np.cumsum(file_rows).tolist()
    for p in sorted(progress, key=lambda p: p["batchId"]):
        rows = source_rows(p, marker)
        if not rows:
            continue
        consumed += rows
        commit = epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
        while len(out) < len(ends) and ends[len(out)] <= consumed:
            out.append(commit)
        if not out or ends[len(out) - 1] != consumed:
            raise ValueError(f"batch {p['batchId']} ends inside a file ({consumed} rows consumed)")
    if len(out) != len(ends):
        raise ValueError(f"{len(ends) - len(out)} files never consumed")
    return out


def backlog_at_batches(written: list[tuple[float, int]], progress: list[dict], marker: str,
                       since: float, until: float) -> list[int]:
    """Rows written but not yet consumed when each micro-batch starting in
    [since, until] lists its input (the end of its `latestOffset` phase).
    `written` holds (epoch time a file appeared, its rows)."""
    out = []
    consumed = 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        start = epoch_s(p["timestamp"])
        if since <= start <= until:
            listed = start + p["durationMs"].get("latestOffset", 0) / 1000
            out.append(sum(r for t, r in written if t <= listed) - consumed)
        consumed += source_rows(p, marker)
    return out


def grows(backlog: list[int], ratio: float = 1.5) -> bool:
    """Whether the backlog's second half averages over `ratio` times its
    first half: the engine is falling behind the offered rate."""
    if len(backlog) < 4:
        return False
    half = len(backlog) // 2
    first, second = backlog[:half], backlog[half:]
    return sum(second) / len(second) > ratio * sum(first) / len(first)


# -- the workload -------------------------------------------------------------------


def _write_atomic(path: str, data: bytes) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, path)


def _generate(files: list[bytes], out_dir: str, t0: float, log: list[tuple[float, float]]) -> None:
    """Open loop: file k is due at t0 + (k+1) * TICK_S, whatever the engine does."""
    for k, data in enumerate(files):
        due = t0 + (k + 1) * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        _write_atomic(os.path.join(out_dir, f"{k:06d}.json"), data)
        log.append((due, time.time()))


class _Collector(StreamingQueryListener):
    """Keeps every progress report the engine posts, and the time its
    own callbacks took."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.callback_s = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        self.progress.append(json.loads(event.progress.json))
        self.callback_s += time.perf_counter() - t

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def run(spark, seed: int, seconds: float, tracer: Tracer | None, work_dir: str, log) -> dict:
    from importlib import import_module

    pipelines = import_module(f"{PKG}.plans.pipelines")
    sinks = import_module(f"{PKG}.streaming.sinks")
    n_window = round(seconds / TICK_S)
    inputs = build_inputs(seed, n_window)

    root = os.path.join(work_dir, f"stream-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    cust_dir, window_dir = f"{root}/customers", f"{root}/risk_events/w"
    stage_dir, backlog_dir = f"{root}/stage", f"{root}/risk_events/b"
    for d in (cust_dir, window_dir, stage_dir):
        os.makedirs(d)
    _write_atomic(f"{cust_dir}/customers.json", inputs.customers)

    sc = spark.sparkContext
    collector = _Collector()
    if tracer:
        spark.streams.addListener(collector)
    query = None
    try:
        def reader(path):
            return spark.readStream.schema(KV_SCHEMA).option("maxFilesPerTrigger", FILES_PER_TRIGGER).json(path)

        redis_raw, events_raw = reader(cust_dir), reader(f"{root}/risk_events/*")
        t_build = time.perf_counter()
        with job_group(sc, "build:stream"), \
                tracer.span("plans.build", "stream") if tracer else contextlib.nullcontext():
            joined = pipelines.flagship_join_pipeline(redis_raw, events_raw)
        build_s = time.perf_counter() - t_build
        query = sinks.to_parquet(joined, f"{root}/sink", checkpoint_dir=f"{root}/checkpoint")
        query.processAllAvailable()  # the customers batch: untimed warm-up

        gen_log: list[tuple[float, float]] = []
        t0 = time.time()
        _generate(inputs.window, window_dir, t0, gen_log)
        window_end = time.time()
        query.processAllAvailable()

        for k, data in enumerate(inputs.backlog):
            with open(f"{stage_dir}/{n_window + k:06d}.json", "wb") as fh:
                fh.write(data)
        t_drop = time.time()
        os.rename(stage_dir, backlog_dir)
        query.processAllAvailable()
        progress = [json.loads(p.json) for p in query.recentProgress]
        run_id = str(query.runId)
        if tracer:
            _await_report(collector, progress[-1]["batchId"])
        query.stop()
        query = None

        result = spark.read.parquet(f"{root}/sink").select("customer", "score", "email", "birthYear")
        got = row_digest(result.toPandas().itertuples(index=False, name=None))
    finally:
        if query is not None:
            query.stop()
        if tracer:
            spark.streams.removeListener(collector)
        shutil.rmtree(root, ignore_errors=True)

    if progress[0]["batchId"] != 0:
        raise RuntimeError("progress reports were evicted; raise numRecentProgressUpdates")
    commits = commit_times(inputs.rows, progress, "risk_events")
    lat_ms = [1000 * (c - due) for c, (due, _) in zip(commits, gen_log)]
    drain_s = commits[-1] - t_drop
    late_ms = 1000 * max(w - due for due, w in gen_log)
    backlog = backlog_at_batches([(w, ROWS_PER_FILE) for _, w in gen_log], progress, "risk_events",
                                 t0, window_end)
    log(f"stream: {len(progress)} batches, {len(lat_ms)} latency samples, generator late "
        f"{late_ms:.1f} ms max, backlog rows at batch start {backlog}")
    if late_ms > 1000 * TICK_S:
        raise RuntimeError(f"INVALID RUN: generator ran {late_ms:.0f} ms late (> one tick)")
    # the first window batch starts with the generator, before any backlog
    if grows(backlog[1:]):
        raise RuntimeError(f"INVALID RUN: source backlog grew across the window: {backlog}")

    failed = 0
    if got != inputs.expected:
        failed = 1
        log(f"CORRECTNESS FAILURE stream_flagship_join: sink (rows, digest) {got} "
            f"!= model {inputs.expected}")
    e2e = {
        "pass_s": drain_s,
        "event_latency_p50_ms": percentile(lat_ms, 50),
        "event_latency_p90_ms": percentile(lat_ms, 90),
    }
    layers = {}
    if tracer:
        layers = _layers(spark, tracer, collector, run_id, build_s)
        layers["stream.drain_rows_per_s"] = BACKLOG_FILES * BACKLOG_ROWS / drain_s
        layers["source.backlog_rows_max"] = max(backlog)
        layers["generator.late_ms_max"] = late_ms
        # tracing cost on this workload is the listener's own work
        layers["trace.overhead_pct"] = 100 * collector.callback_s / (commits[-1] - t0)
    return {"e2e": e2e, "layers": layers, "attempted": len(progress), "failed": failed}


def _await_report(collector: _Collector, batch_id: int) -> None:
    """Wait until the listener, which the engine calls asynchronously,
    has received the report of `batch_id`."""
    deadline = time.time() + 30
    while not any(p["batchId"] == batch_id for p in collector.progress):
        if time.time() > deadline:
            raise RuntimeError(f"listener never received micro-batch {batch_id}")
        time.sleep(0.05)


def _layers(spark, tracer: Tracer, collector: _Collector, run_id: str, build_s: float) -> dict:
    """Per-layer metrics from the listener's progress reports."""
    reports = sorted(collector.progress, key=lambda p: p["batchId"])
    skew = time.time() - time.perf_counter()  # epoch -> span clock
    for p in reports:
        start = epoch_s(p["timestamp"]) - skew
        d = p["durationMs"]
        rec = tracer.add("stream.batch", f"batch:{p['batchId']}", start,
                         start + d["triggerExecution"] / 1000, parent=None)
        t = start
        for phase in PHASES:
            ms = d.get(phase, 0)
            tracer.add(f"{PHASE_LAYER[phase]}.{phase}", rec["op"], t, t + ms / 1000, parent=rec["id"])
            t += ms / 1000

    def phase_ms(key):
        return [p["durationMs"].get(key, 0) for p in reports]

    def state(p, key):
        return sum(op[key] for op in p["stateOperators"])

    def commit_ms(p):
        return sum(v for op in p["stateOperators"] for k, v in op.get("customMetrics", {}).items()
                   if k.startswith("rocksdbCommit"))

    out = {
        "stream.batches": len(reports),
        "stream.batch_rows_p50": percentile([p["numInputRows"] for p in reports], 50),
        "state.rows_total_end": state(reports[-1], "numRowsTotal"),
        "state.memory_bytes_end": state(reports[-1], "memoryUsedBytes"),
        "state.commit_ms_p50": percentile([commit_ms(p) for p in reports], 50),
        "state.rows_dropped_by_watermark": sum(state(p, "numRowsDroppedByWatermark") for p in reports),
        "plans.build_s": build_s,
        "plans.build_jobs": group_stats(spark.sparkContext, "build:stream")["jobs"],
        "exec.s": sum(phase_ms("addBatch")) / 1000,
    }
    for key in ("triggerExecution", *PHASES):
        name = "trigger" if key == "triggerExecution" else key
        out[f"stream.{name}_ms_p50"] = percentile(phase_ms(key), 50)
        out[f"stream.{name}_ms_p90"] = percentile(phase_ms(key), 90)
    ex = group_stats(spark.sparkContext, run_id)
    out.update({f"exec.{k}": v for k, v in ex.items()})
    return out
