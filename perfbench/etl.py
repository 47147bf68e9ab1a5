"""etl_batch: one client in a closed loop calling
plans.pipeline.run_pipeline(period=5) over a 1M-trade CSV (8 files), each
call into a fresh output directory.  Every run is checked: counts, the
trades sink, and the indicator rows against DuckDB over the same CSV.

generate_trades writes a pool of POOL_FILES CSV files of exactly
FILE_TRADES trades once per checkout (data seed DATA_SEED); the run's seed
picks which N_FILES consecutive ones (wrapping round) form its input.  Generating 1M trades costs
more than the rest of a run's set-up, so it is not repeated per seed."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import harness

FILE_TRADES = {"full": 125_000, "tiny": 2_500}
N_FILES = 8  # 8 x 125K = the reference's 1M trades (BASELINE.md)
POOL_FILES = 10
DATA_SEED = 42
N_WARM = 10_000
MIN_RUNS = 3  # timed runs, whatever --seconds allows
# run_pipeline writes unrounded doubles; a per-symbol sum over ~100K rows
# depends on summation order in its last bits, so indicator values are
# compared with this relative tolerance (symbols and periods exactly)
REL_TOL = 1e-9


def _write_csv(spark, per_file: int, n_files: int, seed: int, path: str) -> None:
    """n_files CSV files of exactly per_file trades each, one per directory
    (part=0..n_files-1)."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources.generator import generate_trades

    part = F.floor((F.col("trade_id") - 1_000_000) / per_file).alias("part")
    generate_trades(spark, per_file * n_files, seed=seed).select(
        "trade_id", "order_id", "timestamp", "symbol", "price", "volume", "side", "type",
        F.col("is_pro").cast("int").alias("is_pro"), part,
    ).repartition("part").write.partitionBy("part").option("header", True).csv(path + ".tmp")
    os.replace(path + ".tmp", path)


def _part_file(pool: str, j: int) -> str:
    d = os.path.join(pool, f"part={j}")
    (name,) = [f for f in os.listdir(d) if f.endswith(".csv")]
    return os.path.join(d, name)


def prepare(spark, seed: int, size: str) -> dict:
    per = FILE_TRADES[size]
    pool = os.path.join(harness.DATA, f"etl_pool_{per}_s{DATA_SEED}")
    warm = os.path.join(harness.DATA, f"etl_warm_{N_WARM}")
    if not os.path.isdir(pool):
        _write_csv(spark, per, POOL_FILES, DATA_SEED, pool)
    if not os.path.isdir(warm):
        _write_csv(spark, N_WARM, 1, 7, warm)
    # N_FILES consecutive pool files from a seed-chosen one: POOL_FILES
    # possible inputs, so their DuckDB oracles are soon all cached
    picked = sorted((seed + j) % POOL_FILES for j in range(N_FILES))
    csv = os.path.join(harness.DATA, f"etl_input_{per}_" + "".join(map(str, picked)))
    if not os.path.isdir(csv):
        os.makedirs(csv + ".tmp", exist_ok=True)
        for j in picked:
            os.link(_part_file(pool, j), os.path.join(csv + ".tmp", f"trades-{j}.csv"))
        os.replace(csv + ".tmp", csv)
    oracle = os.path.join(csv, ".oracle.json")  # hidden: Spark skips it
    if not os.path.isfile(oracle):
        harness.write_json(oracle, _oracle(csv))
    with open(oracle) as f:
        want = json.load(f)
    want["indicators"] = {s: tuple(v) for s, v in want["indicators"].items()}
    return {"csv": csv, "warm": os.path.dirname(_part_file(warm, 0)), "n": per * N_FILES,
            "oracle": want}


def _oracle(csv_dir: str) -> dict:
    """Valid/rejected counts and the per-symbol indicator rows, computed by
    DuckDB from the same CSV files with the project's oracle SQL."""
    import __spark_entry__ as entry
    from marketstream_etl_spark.plans.trades_view import TRADES_CTE

    con = harness.duckdb_connect()
    con.execute(
        f"CREATE VIEW csv_trades AS SELECT * FROM read_csv('{csv_dir}/*.csv', header=true, "
        "columns={'trade_id':'BIGINT','order_id':'BIGINT','timestamp':'BIGINT',"
        "'symbol':'VARCHAR','price':'DOUBLE','volume':'INTEGER','side':'VARCHAR',"
        "'type':'VARCHAR','is_pro':'INTEGER'})")
    n_valid, n_total = con.execute(
        f"SELECT count(*) FILTER (WHERE {entry._VALID_WHERE}), count(*) FROM csv_trades").fetchone()
    # the registered `indicators` oracle over this CSV instead of `events`,
    # without its 6-digit rounding (run_pipeline does not round)
    sql = entry._INDICATORS_SQL.replace(TRADES_CTE, "SELECT * FROM csv_trades")
    for col in ("sma", "rsi", "vwap"):
        sql = sql.replace(f", 6) AS {col}", f", 17) AS {col}")
    rows = {r[0]: r[1:] for r in con.execute(sql).fetchall()}
    con.close()
    return {"n_valid": n_valid, "n_total": n_total, "indicators": rows}


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def check(spark, report, out_dir: str, inputs: dict) -> list[str]:
    """Problems with one pipeline run; empty when it is correct."""
    from pyspark.sql import functions as F

    sunk = spark.read.parquet(f"{out_dir}/trades").count()
    got = {r["symbol"]: (r["sma"], r["rsi"], r["vwap"], r["period"])
           for r in spark.read.parquet(f"{out_dir}/technical_indicators")
           .select("symbol", "sma", "rsi", "vwap", F.col("period").cast("int")).collect()}
    return compare(report, sunk, got, inputs)


def compare(report, sunk: int, got: dict, inputs: dict) -> list[str]:
    """Compare a run's report, trades-sink row count and indicator rows
    (symbol -> (sma, rsi, vwap, period)) with the oracle."""
    want = inputs["oracle"]
    bad = []
    if report.n_valid + report.n_rejected != inputs["n"]:
        bad.append(f"n_valid+n_rejected={report.n_valid + report.n_rejected} != {inputs['n']}")
    if report.n_valid != want["n_valid"]:
        bad.append(f"n_valid={report.n_valid} != oracle {want['n_valid']}")
    if report.n_symbols != 10:
        bad.append(f"n_symbols={report.n_symbols} != 10")
    if sunk != report.n_valid:
        bad.append(f"trades sink holds {sunk} rows, n_valid={report.n_valid}")
    if set(got) != set(want["indicators"]):
        bad.append(f"indicator symbols {sorted(got)} != {sorted(want['indicators'])}")
    for sym, exp in want["indicators"].items():
        row = got.get(sym)
        if row is None:
            continue
        if row[3] != exp[3] or not all(_close(a, b) for a, b in zip(row[:3], exp[:3])):
            bad.append(f"indicator row {sym}: {row} != oracle {exp}")
    return bad


def warm(spark, inputs: dict) -> None:
    from marketstream_etl_spark.plans import pipeline

    out = harness.fresh_dir(os.path.join(harness.WORK, "tmp_etl_warm"))
    pipeline.run_pipeline(spark, inputs["warm"], out, period=5)
    shutil.rmtree(out, ignore_errors=True)


def instrument(tracer, inputs: dict) -> None:
    """Layer wrappers for the traced run: plan builders (CSV source,
    validation, indicators) and the sink."""
    from marketstream_etl_spark.plans import pipeline

    tracer.wrap(pipeline, "read_trades_csv", "sources.read_trades_csv", build=True)
    tracer.wrap(pipeline, "with_validation", "operators.with_validation", build=True)
    tracer.wrap(pipeline, "compute_indicators_auto", "operators.compute_indicators", build=True)
    tracer.wrap(pipeline, "write_dual_sinks", "sources.write_dual_sinks")


def _run_once(spark, inputs: dict, res: harness.Result, out: str, ctx) -> tuple[float, object] | None:
    """One checked pipeline run into `out`: (seconds, report), or None if
    it raised."""
    from marketstream_etl_spark.plans import pipeline

    shutil.rmtree(out, ignore_errors=True)
    res.attempted += 1
    try:
        with ctx:
            t0 = time.perf_counter()
            report = pipeline.run_pipeline(spark, inputs["csv"], out, period=5)
            dt = time.perf_counter() - t0
    except Exception as e:  # a raising run is a failed operation
        res.fail(f"{os.path.basename(out)}: {type(e).__name__}: {e}"[:300])
        return None
    problems = check(spark, report, out, inputs)
    shutil.rmtree(out, ignore_errors=True)
    if problems:
        res.fail(f"{os.path.basename(out)}: " + "; ".join(problems)[:500])
    return dt, report


def measure(spark, inputs: dict, seconds: float, res: harness.Result, tracer=None,
            run_dir: str = "") -> dict:
    """Closed loop: runs while the next one should end within `seconds`
    (at least MIN_RUNS)."""
    lat, stages, shares = [], [], []
    t0 = time.perf_counter()
    i = 0
    while len(lat) < MIN_RUNS or time.perf_counter() - t0 + lat[-1] <= seconds:
        if i - len(lat) > MIN_RUNS:  # runs keep raising: stop, the failures are reported
            break
        ctx = tracer.op("plans.run_pipeline", iteration=i) if tracer else nullcontext()
        out = _run_once(spark, inputs, res, os.path.join(run_dir, f"etl_out_{i}"), ctx)
        i += 1
        if out is None:
            continue
        dt, report = out
        lat.append(dt)
        stages.append(dict(report.stage_seconds))
        shares.append(report.n_valid / max(1, report.n_input))
    return {"latency_s": lat, "trades_per_s": [inputs["n"] / x for x in lat], "stages": stages,
            "valid_share": shares, "elapsed_s": time.perf_counter() - t0}


def summarize(samples: dict, res: harness.Result) -> None:
    """Medians over the runs after the first: the first full-size run of a
    process is still JIT-compiling the hot paths (checked, not in the
    median).  With no run done (every one raised), throughput is 0 and
    latency the whole measured time: the worst the window allows."""
    timed = samples["latency_s"][1:] or samples["latency_s"]
    lat = timed or [samples["elapsed_s"]]
    tps = samples["trades_per_s"][1:] or samples["trades_per_s"] or [0.0]
    res.metrics["throughput_per_s"] = statistics.median(tps)
    res.metrics["latency_p50_ms"] = statistics.median(lat) * 1e3
    n = len(timed)
    res.name("etl_trades_per_s", res.metrics["throughput_per_s"], "trades/s", n,
             "median over pipeline runs after the first")
    res.name("etl_run_ms", res.metrics["latency_p50_ms"], "ms", n,
             "median pipeline run after the first")


def layer_metrics(samples: dict) -> dict[str, float]:
    st = samples["stages"]
    med = lambda k: statistics.median([s.get(k, 0.0) for s in st] or [0.0])  # noqa: E731
    return {
        "pipeline.parse_validate_s": med("parse_validate"),
        "pipeline.indicators_s": med("indicators"),
        "pipeline.sink_s": med("dual_sink_parquet"),
        "operators.validation.valid_share": statistics.median(samples["valid_share"] or [0.0]),
    }
