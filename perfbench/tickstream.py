"""tick_stream: one streaming query, parse_json_frames -> hot_path_filter ->
symbol_counts under single_parse_ingest (complete mode, memory sink), in
two phases:

- drain: 1M pre-landed JSON frames read with availableNow; the per-row path
  (from_json, state update) carries the time.
- open loop: tickgen.py, a separate single-threaded process, lands one
  ~15.6K-tick frame file every 250 ms (62.5K ticks/s) on schedule, cycling
  through 8 of the drain files, while the query runs with the default
  trigger; the fixed per-trigger cost (offsets, WAL, commit) carries the
  latency.

A file's latency is the end of the micro-batch that includes it (the file
source's checkpoint log names the batch; recentProgress gives its start and
duration) minus the file's due time.  A file later than 5 s, or never
committed, is a failed operation.

The frames are generated once per checkout (data seed DATA_SEED); the run's
seed picks the 8 pool files and the order they land in."""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from datetime import datetime
from urllib.parse import urlparse

import harness
from tickgen import read_log

N_DRAIN = {"full": 1_000_000, "tiny": 20_000}
# ~15.6K frames each at full size: one open-loop file per 250 ms = 62.5K
# ticks/s, about a third of the drain rate on a 4-CPU host.  Near half of it
# (100K/s) the batches ran long whenever other guests took CPU from the
# host, and the open-loop latency of otherwise equal runs varied up to 2x.
DRAIN_FILES = 64
POOL_FILES = 8
N_WARM = 10_000
INTERVAL_S = 0.25
LATE_S = 5.0
DRAINS = 2  # timed full drains; the throughput is their median
MIN_OPEN_S = 5.0  # the open loop lands at least this many seconds of files
DATA_SEED = 42


def _frames(spark, n: int, seed: int):
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources.generator import generate_trades
    from marketstream_etl_spark.streaming.ticks import to_json_frames

    return to_json_frames(generate_trades(spark, n, seed=seed).withColumn("exchange", F.lit("WSS")))


def _write_frames(spark, n: int, seed: int, path: str, n_files: int) -> None:
    _frames(spark, n, seed).repartitionByRange(n_files, "value").write.mode("overwrite") \
        .parquet(path + ".tmp")
    os.replace(path + ".tmp", path)


def _oracle(glob: str) -> dict[str, dict]:
    """Per file: per-symbol tick counts and volumes DuckDB reads from the
    frames with the query's filters (parsed, price > 0, volume > 0), the
    frame count and the unparseable frames."""
    con = harness.duckdb_connect()
    rows = con.execute(f"""
        WITH t AS (
            SELECT filename,
                   json_extract(value, '$.trade_id') AS tid,
                   json_extract_string(value, '$.symbol') AS symbol,
                   TRY_CAST(json_extract(value, '$.price') AS DOUBLE) AS price,
                   TRY_CAST(json_extract(value, '$.volume') AS INTEGER) AS volume
            FROM read_parquet('{glob}', filename = true))
        SELECT filename, symbol, count(*), sum(volume), NULL FROM t
        WHERE tid IS NOT NULL AND price > 0 AND volume > 0 GROUP BY ALL
        UNION ALL
        SELECT filename, NULL, count(*), NULL, count(*) FILTER (WHERE tid IS NULL)
        FROM t GROUP BY ALL
    """).fetchall()
    con.close()
    out: dict[str, dict] = {}
    for f, sym, n, vol, errors in rows:
        o = out.setdefault(os.path.realpath(f), {"counts": {}, "frames": 0, "parse_errors": 0})
        if sym is None:
            o["frames"], o["parse_errors"] = n, errors
        else:
            o["counts"][sym] = (n, int(vol))
    return out


def prepare(spark, seed: int, size: str) -> dict:
    n = N_DRAIN[size]
    drain = os.path.join(harness.DATA, f"tick_frames_{n}_f{DRAIN_FILES}_s{DATA_SEED}")
    warm = os.path.join(harness.DATA, f"tick_frames_{N_WARM}_warm")
    if not os.path.isdir(drain):
        _write_frames(spark, n, DATA_SEED, drain, DRAIN_FILES)
    if not os.path.isdir(warm):
        _write_frames(spark, N_WARM, 7, warm, 1)
    cached = os.path.join(harness.CACHE, f"{os.path.basename(drain)}_oracle.json")
    if not os.path.isfile(cached):
        os.makedirs(harness.CACHE, exist_ok=True)
        harness.write_json(cached, _oracle(f"{drain}/*.parquet"))
    with open(cached) as f:
        per_file = {p: {**o, "counts": {s: tuple(c) for s, c in o["counts"].items()}}
                    for p, o in json.load(f).items()}
    pool = random.Random(seed).sample(sorted(per_file), POOL_FILES)
    return {
        "drain": drain, "warm": warm, "pool": pool,
        "drain_oracle": _sum_counts([o["counts"] for o in per_file.values()]),
        "pool_oracle": {f: per_file[f] for f in pool},
    }


def _query(spark, src: str, name: str, ckpt: str, available_now: bool):
    """Start the measured query (the shape of bench.py's stream_1m).  Call
    inside single_parse_ingest; module attributes are looked up at call
    time so the traced run's wrappers see the plan-builder calls."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.streaming import ticks

    frames = spark.readStream.schema("value string").parquet(src)
    parsed = ticks.parse_json_frames(frames)
    counts = ticks.symbol_counts(ticks.hot_path_filter(parsed.filter(~F.col("parse_error"))))
    writer = (counts.writeStream.format("memory").queryName(name)
              .outputMode("complete").option("checkpointLocation", ckpt))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _sink_counts(spark, name: str) -> dict:
    return {r["symbol"]: (r["n_ticks"], int(r["total_volume"]))
            for r in spark.table(name).collect()}


def _sum_counts(parts: list[dict]) -> dict:
    out: dict = {}
    for part in parts:
        for sym, (n, v) in part.items():
            a, b = out.get(sym, (0, 0))
            out[sym] = (a + n, b + v)
    return out


_SEQ = [0]


def _name(kind: str) -> str:
    _SEQ[0] += 1
    return f"pb_{kind}_{os.getpid()}_{_SEQ[0]}"


def drain_once(spark, src: str, run_dir: str) -> tuple[float, str, list[dict]]:
    from marketstream_etl_spark.streaming.ticks import single_parse_ingest

    name = _name("drain")
    ckpt = harness.fresh_dir(os.path.join(run_dir, "ckpt", name))
    with single_parse_ingest(spark):
        t0 = time.perf_counter()
        q = _query(spark, src, name, ckpt, available_now=True)
        q.awaitTermination()
        dt = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return dt, name, _progress(q)


def warm(spark, inputs: dict) -> None:
    drain_once(spark, inputs["warm"], harness.WORK)


def instrument(tracer, inputs: dict) -> None:
    from marketstream_etl_spark.streaming import ticks

    for fn in ("parse_json_frames", "hot_path_filter", "symbol_counts"):
        tracer.wrap(ticks, fn, f"streaming.{fn}", build=True)


def _source_log(ckpt: str) -> dict[str, list[int]]:
    """File path -> batch ids it appears in, from the file source's
    checkpoint log (plain and compacted entries)."""
    seen: dict[str, set] = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return {}
    for f in os.listdir(d):
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                path = os.path.realpath(urlparse(e["path"]).path)
                seen.setdefault(path, set()).add(e["batchId"])
    return {p: sorted(b) for p, b in seen.items()}


def _committed(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(f) for f in os.listdir(d) if f.isdigit()}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def open_loop(spark, inputs: dict, seconds: float, run_dir: str) -> dict:
    from marketstream_etl_spark.streaming.ticks import single_parse_ingest

    name = _name("open")
    land = harness.fresh_dir(os.path.join(run_dir, "land", name))
    ckpt = harness.fresh_dir(os.path.join(run_dir, "ckpt", name))
    gen_log = os.path.join(run_dir, f"{name}.tickgen.jsonl")
    count = max(8, int(seconds / INTERVAL_S))
    with single_parse_ingest(spark):
        q = _query(spark, land, name, ckpt, available_now=False)
        try:
            start = time.time() + 1.0  # first due time: after the query's first (empty) trigger
            gen = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "tickgen.py"),
                "--out", land, "--count", str(count), "--interval", str(INTERVAL_S),
                "--start", repr(start), "--log", gen_log, "--pool", *inputs["pool"]])
            try:
                gen.wait(timeout=count * INTERVAL_S + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if gen.returncode != 0:
                raise RuntimeError(f"tick generator exited with {gen.returncode}")
            landed = read_log(gen_log)
            want = {os.path.realpath(e["path"]) for e in landed}
            deadline = max(e["due"] for e in landed) + LATE_S + 1.0
            while time.time() < deadline:
                log = _source_log(ckpt)
                done = _committed(ckpt)
                if all(p in log and log[p][0] in done for p in want):
                    break
                time.sleep(0.05)
        finally:
            q.stop()
    log = _source_log(ckpt)
    progress = _progress(q)
    return {"name": name, "landed": landed, "log": log, "progress": progress,
            "committed": _committed(ckpt)}


def score_open_loop(ol: dict, inputs: dict, res: harness.Result, got: dict) -> dict:
    """Latency per landed file, failures (late, uncommitted, in two
    batches) and the check of the final per-symbol counts `got` against
    DuckDB over every landed frame."""
    ends = {}
    for p in ol["progress"]:
        if p.get("numInputRows", 0) > 0 or p["batchId"] in ol["committed"]:
            ends[p["batchId"]] = _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
    lat, late_gen = [], []
    for e in ol["landed"]:
        res.attempted += 1
        path = os.path.realpath(e["path"])
        batches = ol["log"].get(path, [])
        late_gen.append(e["landed"] - e["due"])
        if len(batches) != 1:
            res.fail(f"{os.path.basename(path)} in {len(batches)} batches")
            continue
        b = batches[0]
        if b not in ol["committed"] or b not in ends:
            res.fail(f"{os.path.basename(path)}: batch {b} never committed")
            continue
        latency = ends[b] - e["due"]
        if latency > LATE_S:
            res.fail(f"{os.path.basename(path)}: {latency:.2f}s late")
        lat.append(latency)
    # the final per-symbol state must equal DuckDB over every landed frame
    res.attempted += 1
    want = _sum_counts([inputs["pool_oracle"][e["src"]]["counts"] for e in ol["landed"]])
    if got != want:
        res.fail(f"open-loop counts {got} != oracle {want}")
    # backlog: files landed but not yet committed, at each batch end
    land_t = sorted(e["landed"] for e in ol["landed"])
    file_batch = sorted(v[0] for v in ol["log"].values() if v)
    backlog = [sum(t <= end for t in land_t) - sum(fb <= b for fb in file_batch)
               for b, end in sorted(ends.items())]
    return {"latency_s": lat, "generator_late_s": late_gen, "backlog": backlog}


def _drain_checked(spark, inputs: dict, res: harness.Result, run_dir: str, ctx):
    """One checked drain: (ticks/s, progress), or None if it raised."""
    res.attempted += 1
    try:
        with ctx:
            dt, name, prog = drain_once(spark, inputs["drain"], run_dir)
    except Exception as e:
        res.fail(f"drain: {type(e).__name__}: {e}"[:300])
        return None
    got = _sink_counts(spark, name)
    if got != inputs["drain_oracle"]:
        res.fail(f"drain counts {got} != oracle {inputs['drain_oracle']}")
    return sum(p.get("numInputRows", 0) for p in prog) / dt, prog


def measure(spark, inputs: dict, seconds: float, res: harness.Result, tracer=None,
            run_dir: str = "") -> dict:
    """DRAINS timed drains, then an open loop for the rest of `seconds`
    (at least MIN_OPEN_S)."""
    ctx = tracer.op if tracer else (lambda name: nullcontext())
    rates, drain_progress = [], []
    t0 = time.perf_counter()
    for _ in range(DRAINS):
        out = _drain_checked(spark, inputs, res, run_dir, ctx("streaming.drain"))
        if out is not None:
            rates.append(out[0])
            drain_progress += out[1]
    remaining = max(MIN_OPEN_S, seconds - (time.perf_counter() - t0))
    try:
        with ctx("streaming.open_loop"):
            ol = open_loop(spark, inputs, remaining, run_dir)
        got = _sink_counts(spark, ol["name"])
    except Exception as e:  # nothing landed was scored: one failed operation
        res.attempted += 1
        res.fail(f"open loop: {type(e).__name__}: {e}"[:300])
        ol, got = {"landed": [], "log": {}, "progress": [], "committed": set()}, {}
    scored = score_open_loop(ol, inputs, res, got) if ol["landed"] else \
        {"latency_s": [], "generator_late_s": [], "backlog": []}
    return {"drain_rates": rates, "drain_progress": drain_progress,
            "open_progress": ol["progress"], **scored,
            "parse_error_share": _parse_error_share(inputs, ol)}


def _parse_error_share(inputs: dict, ol: dict) -> float:
    frames = errors = 0
    for e in ol["landed"]:
        o = inputs["pool_oracle"][e["src"]]
        frames += o["frames"]
        errors += o["parse_errors"]
    return errors / frames if frames else 0.0


def summarize(samples: dict, res: harness.Result) -> None:
    """With no drain done, the drain rate is 0; with no file committed, the
    latency is LATE_S, the most a file may take before it counts as failed."""
    lat_ms = [x * 1e3 for x in samples["latency_s"]]
    rates = samples["drain_rates"]
    res.metrics["throughput_per_s"] = statistics.median(rates) if rates else 0.0
    res.metrics["latency_p50_ms"] = harness.percentile(lat_ms, 50) if lat_ms else LATE_S * 1e3
    n = len(lat_ms)
    res.name("tick_drain_ticks_per_s", res.metrics["throughput_per_s"], "ticks/s",
             len(rates), "median over availableNow drains of 1M frames")
    for q in (50, 90):
        ok = bool(lat_ms) and harness.reportable(n, q)
        res.name(f"tick_latency_p{q}_ms", harness.percentile(lat_ms, q) if ok else None, "ms", n,
                 "" if ok else f"needs >= {int(1000 / (100 - q))} files")


def _med(progress: list[dict], key: str) -> float:
    xs = [p["durationMs"].get(key, 0) for p in progress if p.get("numInputRows", 0) > 0]
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(samples: dict) -> dict[str, float]:
    op, dp = samples["open_progress"], samples["drain_progress"]
    data_batches = [p for p in op if p.get("numInputRows", 0) > 0]
    last_state = next((p["stateOperators"][0] for p in reversed(op) if p.get("stateOperators")), {})
    return {
        "streaming.latest_offset_ms": _med(op, "latestOffset"),
        "streaming.query_planning_ms": _med(op, "queryPlanning"),
        "streaming.wal_commit_ms": _med(op, "walCommit"),
        "streaming.commit_offsets_ms": _med(op, "commitOffsets"),
        "streaming.add_batch_ms": _med(dp, "addBatch"),
        "streaming.get_batch_ms": _med(dp, "getBatch"),
        "streaming.trigger_ms": _med(dp, "triggerExecution"),
        "streaming.batches": float(len(data_batches)),
        "streaming.rows_per_batch": float(statistics.median(
            [p["numInputRows"] for p in data_batches])) if data_batches else 0.0,
        "streaming.state_rows": float(last_state.get("numRowsTotal", 0)),
        "streaming.state_memory_bytes": float(last_state.get("memoryUsedBytes", 0)),
        "streaming.parse_error_share": samples["parse_error_share"],
        "streaming.backlog_files": float(max(samples["backlog"], default=0)),
        "streaming.generator_late_ms": max(samples["generator_late_s"], default=0.0) * 1e3,
    }
