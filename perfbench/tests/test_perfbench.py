"""The benchmark's own tests.  The first group runs each workload end to end
at tiny size (a Spark JVM per run, about a minute each); the rest are pure
Python.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

import etl
import harness
import querymix
import tickgen
import tickstream
from etl import compare

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# the workload-specific names each run prints, with units (README.md)
NAMED = {
    "etl_batch": {"etl_trades_per_s": "trades/s", "etl_run_ms": "ms"},
    "tick_stream": {"tick_drain_ticks_per_s": "ticks/s", "tick_latency_p50_ms": "ms",
                    "tick_latency_p90_ms": "ms"},
    "query_mix": {"query_per_s": "1/s", "query_p50_s": "s", "query_p90_s": "s"},
}


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, cwd=harness.ROOT, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace):
    result, lines = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace:  # the instruments saw the work
        assert result["metrics"]["session.jobs"]["value"] > 0
        assert result["metrics"]["session.query_executions"]["value"] > 0
    named = {**NAMED[workload], "setup_s": "s", "rss_after_gc_mb": "MB", "peak_rss_mb": "MB"}
    for key, unit in named.items():
        line = next(x for x in lines if x.startswith(f"{workload} {key} = "))
        assert f" {unit} n=" in line, line
    assert any(x.startswith(f"{workload} failed_share = 0 ") for x in lines)


def _res() -> harness.Result:
    return harness.Result("test")


def test_query_mix_wrong_row_is_a_failure():
    rows = [(1, "a", 0.1), (2, "b", 0.2)]
    cols = ["id", "s", "x"]
    want = querymix.canonical(rows, cols)
    ok = _res()
    querymix.check_rows("q", list(reversed(rows)), cols, want, ok)  # order is ignored
    assert ok.failed == 0
    bad = _res()
    querymix.check_rows("q", [(1, "a", 0.1), (2, "b", 0.2 + 1e-16)], cols, want, bad)
    assert bad.failed == 1 and "q:" in bad.failures[0]


class _Frame:
    """Stands in for a DataFrame: its rows and column names."""

    def __init__(self, rows: list[tuple], columns: list[str]) -> None:
        self.rows, self.columns = rows, columns

    def collect(self) -> list[tuple]:
        return self.rows


def test_query_mix_wrong_cached_rows_fail_the_warm_check():
    """A query right on its first (cache-miss) call and wrong on later calls,
    as a corrupted cached generation would be, fails the warm check pass."""
    cols = ["id", "x"]
    good, bad = [(1, 0.5), (2, 1.5)], [(1, 0.5), (2, 9.5)]
    calls = {"n": 0}

    def cached_query(spark, data):
        calls["n"] += 1
        return _Frame(good if calls["n"] == 1 else bad, cols)

    def plain_query(spark, data):
        return _Frame(good, cols)

    queries = {n: plain_query for n in querymix.HEADLINE}
    queries["vocab_topk"] = cached_query
    want = list(querymix.canonical(good, cols))
    inputs = {"queries": queries, "data": "", "seed": 1, "oracle": {n: want for n in querymix.HEADLINE}}
    res = _res()
    querymix.check_passes(None, inputs, res)
    assert res.attempted == 2 * len(querymix.HEADLINE)
    assert res.failed == 1 and res.failures[0].startswith("vocab_topk (warm check)")


def _raises(*args, **kwargs):
    raise RuntimeError("injected")


def test_etl_every_run_raising_is_reported(monkeypatch, tmp_path):
    from marketstream_etl_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "run_pipeline", _raises)
    res = _res()
    samples = etl.measure(None, {"n": 10, "csv": ""}, 0.1, res, run_dir=str(tmp_path))
    part = _res()
    etl.summarize(samples, part)
    assert res.attempted == res.failed == etl.MIN_RUNS + 1
    assert part.metrics["throughput_per_s"] == 0.0 and part.metrics["latency_p50_ms"] > 0
    assert etl.layer_metrics(samples)["pipeline.sink_s"] == 0.0


def test_tick_every_drain_and_the_open_loop_raising_is_reported(monkeypatch, tmp_path):
    monkeypatch.setattr(tickstream, "drain_once", _raises)
    monkeypatch.setattr(tickstream, "open_loop", _raises)
    res = _res()
    samples = tickstream.measure(None, {"drain": "", "pool_oracle": {}}, 0.1, res, run_dir=str(tmp_path))
    part = _res()
    tickstream.summarize(samples, part)
    assert res.attempted == res.failed == tickstream.DRAINS + 1
    assert part.metrics == {"throughput_per_s": 0.0, "latency_p50_ms": tickstream.LATE_S * 1e3}
    assert tickstream.layer_metrics(samples)["streaming.batches"] == 0.0


def test_query_mix_every_query_raising_is_reported():
    inputs = {"queries": {n: _raises for n in querymix.HEADLINE}, "data": "", "seed": 1}
    res = _res()
    samples = querymix.measure(None, inputs, 0.05, res)
    part = _res()
    querymix.summarize(samples, part)
    assert res.attempted == res.failed >= querymix.MIN_PASSES * len(querymix.HEADLINE)
    assert part.metrics["throughput_per_s"] == 0.0 and part.metrics["latency_p50_ms"] > 0


class _Report:
    n_valid, n_rejected, n_symbols = 9, 1, 10


def test_etl_wrong_indicator_row_is_a_failure():
    ind = {f"S{i}": (1.0, 50.0, 2.0, 5) for i in range(10)}
    inputs = {"n": 10, "oracle": {"n_valid": 9, "indicators": ind}}
    assert compare(_Report(), 9, dict(ind), inputs) == []
    wrong = dict(ind, S3=(1.0, 50.0, 2.001, 5))
    assert len(compare(_Report(), 9, wrong, inputs)) == 1
    assert len(compare(_Report(), 8, dict(ind), inputs)) == 1  # a row lost in the sink


def _open_loop(n_files: int, drop: int | None) -> tuple[dict, dict]:
    now = time.time()
    pool = {"p0": {"counts": {"A": (5, 50)}, "frames": 5, "parse_errors": 0}}
    landed = [{"k": k, "path": f"/land/f{k}", "src": "p0", "due": now + k * 0.25,
               "landed": now + k * 0.25 + 0.001} for k in range(n_files)]
    log = {f"/land/f{k}": [k] for k in range(n_files) if k != drop}
    progress = [{"batchId": k, "numInputRows": 5, "timestamp":
                 time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(now + k * 0.25 + 0.1)) + "Z",
                 "durationMs": {"triggerExecution": 200}} for k in range(n_files)]
    ol = {"landed": landed, "log": log, "progress": progress, "committed": set(range(n_files))}
    return ol, {"pool_oracle": pool}


def test_tick_dropped_file_is_a_failure():
    ol, inputs = _open_loop(6, drop=None)
    res = _res()
    scored = tickstream.score_open_loop(ol, inputs, res, {"A": (30, 300)})
    assert res.failed == 0 and res.attempted == 7 and len(scored["latency_s"]) == 6
    ol, inputs = _open_loop(6, drop=2)
    res = _res()
    tickstream.score_open_loop(ol, inputs, res, {"A": (25, 250)})
    # the file never reached a batch, and the final counts miss its ticks
    assert res.failed == 2
    assert any("f2 in 0 batches" in f for f in res.failures)


def test_tick_late_file_is_a_failure():
    ol, inputs = _open_loop(4, drop=None)
    ol["progress"][1]["durationMs"]["triggerExecution"] = 6000
    res = _res()
    tickstream.score_open_loop(ol, inputs, res, {"A": (20, 200)})
    assert res.failed == 1 and "late" in res.failures[0]


def _pool(tmp_path, n: int = 3) -> list[str]:
    pool = tmp_path / "pool"
    pool.mkdir()
    paths = []
    for j in range(n):
        p = pool / f"pool-{j}.parquet"
        p.write_bytes(b"frames")
        paths.append(str(p))
    return paths


def test_generator_keeps_schedule_while_consumer_is_stalled(tmp_path):
    """No consumer reads the landing directory: every file still lands on
    its due time, and the backlog simply grows."""
    out = tmp_path / "land"
    out.mkdir()
    log = tmp_path / "gen.jsonl"
    start = time.time() + 0.2
    subprocess.run([sys.executable, os.path.join(BENCH, "tickgen.py"), "--out", str(out),
                    "--count", "12", "--interval", "0.05", "--start", repr(start),
                    "--log", str(log), "--pool", *_pool(tmp_path)], check=True, timeout=60)
    entries = tickgen.read_log(str(log))
    assert [e["k"] for e in entries] == list(range(12))
    assert len(os.listdir(out)) == 12
    assert [e["due"] for e in entries] == pytest.approx([start + k * 0.05 for k in range(12)])
    assert all(0 <= e["landed"] - e["due"] < 0.1 for e in entries)


def test_generator_reports_lateness_and_keeps_the_schedule(tmp_path):
    """A generator that starts 0.5 s behind lands the overdue files at once,
    records how late each was, and is back on schedule afterwards."""
    out = tmp_path / "land"
    out.mkdir()
    log = str(tmp_path / "gen.jsonl")
    start = time.time() - 0.5
    tickgen.run(_pool(tmp_path), str(out), 20, 0.05, start, log)
    late = [e["landed"] - e["due"] for e in tickgen.read_log(log)]
    assert late[0] >= 0.5
    assert late[-1] < 0.05
    assert all(a >= b - 1e-3 for a, b in zip(late[:10], late[1:11]))  # catching up
