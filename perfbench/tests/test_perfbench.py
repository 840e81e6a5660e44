"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import base64
import decimal
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import batch  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stream  # noqa: E402
import tables  # noqa: E402


def _read_dir(path):
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


def test_same_seed_gives_byte_identical_tables(tmp_path):
    for sub in ("a", "b"):
        tables.write_tables(tables.build_tables(7, 0.001), str(tmp_path / sub))
    tables.write_tables(tables.build_tables(8, 0.001), str(tmp_path / "c"))
    a, b, c = (_read_dir(tmp_path / s) for s in "abc")
    assert sorted(a) == [f"{t}.parquet" for t in sorted(tables.TABLES)]
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_same_seed_gives_byte_identical_stream_inputs():
    one, two, other = (stream.build_inputs(s, 5) for s in (3, 3, 4))
    assert one == two
    assert one.window != other.window
    assert [len(f.splitlines()) for f in one.window] == [stream.ROWS_PER_FILE] * 5
    assert one.rows == [stream.ROWS_PER_FILE] * 5 + [stream.BACKLOG_ROWS] * stream.BACKLOG_FILES


def test_stream_model_counts_only_joinable_events():
    inputs = stream.build_inputs(5, 3)
    valid = set()
    for line in inputs.customers.decode().splitlines():
        value = json.loads(json.loads(line)["value"])
        customer = json.loads(base64.b64decode(value["zSetEntries"][0]["element"]))
        if customer.get("email") and customer.get("birthDay"):
            valid.add(customer["email"])
    events = [json.loads(json.loads(line)["value"])
              for f in inputs.window + inputs.backlog for line in f.decode().splitlines()]
    joinable = [e for e in events if e["customer"] in valid]
    assert 0 < len(joinable) < len(events)
    assert inputs.expected[0] == len(joinable)


def _progress(batch_id, start_iso, trigger_ms, rows, other_rows=0, latest_ms=10):
    return {
        "batchId": batch_id,
        "timestamp": start_iso,
        "numInputRows": rows + other_rows,
        "durationMs": {"triggerExecution": trigger_ms, "latestOffset": latest_ms},
        "sources": [
            {"description": "FileStreamSource[file:/w/customers]", "numInputRows": other_rows},
            {"description": "FileStreamSource[file:/w/risk_events/*]", "numInputRows": rows},
        ],
        "stateOperators": [],
    }


def test_commit_times_map_files_to_consuming_batches():
    t0 = stream.epoch_s("2026-01-01T00:00:00.000Z")
    log = [
        _progress(0, "2026-01-01T00:00:00.000Z", 500, 0, other_rows=900),  # customers only
        _progress(2, "2026-01-01T00:00:02.000Z", 1000, 500),  # out of order on purpose
        _progress(1, "2026-01-01T00:00:00.500Z", 1250, 400),
        _progress(3, "2026-01-01T00:00:03.000Z", 250, 1000),
    ]
    files = [200, 200, 100, 400, 1000]
    got = stream.commit_times(files, log, "risk_events")
    assert got == pytest.approx([t0 + 1.75, t0 + 1.75, t0 + 3.0, t0 + 3.0, t0 + 3.25])


def test_commit_times_refuse_a_batch_that_splits_a_file():
    log = [_progress(0, "2026-01-01T00:00:00.000Z", 100, 300)]
    with pytest.raises(ValueError, match="inside a file"):
        stream.commit_times([200, 200], log, "risk_events")
    with pytest.raises(ValueError, match="never consumed"):
        stream.commit_times([300, 200], log, "risk_events")


def test_backlog_at_batches_and_growth():
    t0 = stream.epoch_s("2026-01-01T00:00:00.000Z")
    log = [
        _progress(0, "2026-01-01T00:00:00.000Z", 100, 0, other_rows=50),
        _progress(1, "2026-01-01T00:00:01.000Z", 100, 300),
        _progress(2, "2026-01-01T00:00:02.000Z", 100, 200),
    ]
    written = [(t0 + 0.5, 100), (t0 + 0.9, 200), (t0 + 1.5, 200), (t0 + 2.5, 100)]
    assert stream.backlog_at_batches(written, log, "risk_events", t0 + 0.5, t0 + 10) == [300, 200]
    assert stream.grows([100, 110, 100, 300, 400, 500])
    assert not stream.grows([300, 200, 250, 260, 240, 310])
    assert not stream.grows([3000, 6000])  # too few batches to judge


def test_percentile_is_nearest_rank():
    values = list(range(1, 121))
    assert spans.percentile(values, 50) == 60
    assert spans.percentile(values, 90) == 108
    assert spans.percentile([5.0], 90) == 5.0
    with pytest.raises(ValueError):
        spans.percentile([], 50)


def test_oracle_comparison_ignores_row_and_column_order():
    cols = ["b", "A"]
    rows = [(1.5, "x"), (None, "y")]
    assert batch.mismatch(cols, rows, ["a", "B"], [("y", None), ("x", 1.5)]) is None
    assert batch.mismatch(cols, rows, ["a", "b"], [("x", 1.5)]).startswith("row counts")
    assert batch.mismatch(cols, rows, ["a", "c"], rows).startswith("columns")
    assert batch.mismatch(["d"], [(decimal.Decimal("1.50"),)], ["d"], [(1.5,)]) == "values differ"


def test_tracer_self_time_subtracts_children():
    tr = spans.Tracer()
    build = tr.add("plans.build", "q", 0.0, 1.0)
    tr.add("sources.load_table", "q", 0.1, 0.4, parent=build["id"])
    batch_span = tr.add("stream.batch", "b", 2.0, 3.0, parent=None)
    tr.add("exec.addBatch", "b", 2.0, 2.6, parent=batch_span["id"])
    got = tr.self_times()
    assert got["plans"] == pytest.approx(0.7)
    assert got["sources"] == pytest.approx(0.3)
    assert got["stream"] == pytest.approx(0.4)
    assert got["exec"] == pytest.approx(0.6)


def test_declared_metrics_are_the_measured_ones():
    spec = run.load_spec()
    declared = {m["name"] for m in spec["per_layer"]}
    measured = set(batch.LAYER_METRICS) | set(stream.LAYER_METRICS) | {"session.get_spark_s"}
    measured |= {f"{layer}.self_s" for layer in spans.LAYERS}
    assert declared == measured
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_unknown_or_missing_metric_names_fail():
    spec = run.load_spec()
    good = {m["name"]: 1.0 for m in spec["end_to_end"]}
    assert set(run.result_metrics(spec, 0, good)) == set(good)
    with pytest.raises(ValueError, match="unknown \\['latency_ms'\\]"):
        run.result_metrics(spec, 0, {**good, "latency_ms": 1.0})
    with pytest.raises(ValueError, match="missing \\['setup_s'\\]"):
        run.result_metrics(spec, 0, {k: v for k, v in good.items() if k != "setup_s"})
    with pytest.raises(ValueError, match="finite"):
        run.result_metrics(spec, 0, {**good, "pass_s": float("nan")})


@pytest.mark.parametrize("argv", [
    ["--workload", "no_such_workload", "--seed", "1", "--seconds", "5", "--trace", "0"],
    ["--workload", "batch_reference", "--seed", "1", "--seconds", "0", "--trace", "0"],
    ["--workload", "batch_reference", "--seed", "1", "--seconds", "5", "--trace", "2"],
])
def test_bad_arguments_fail_fast_without_a_result(argv):
    proc = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *argv],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stdout == ""
