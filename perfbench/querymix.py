"""query_mix: one client in a closed loop running passes over 6 of bench.py's
18 HEADLINE queries on the project's sf0.1 test data, each pass in a
seed-shuffled order, each query forced with a noop write.

Every output is checked twice, in two untimed passes before the timed
ones: the first runs on cold generation caches (the cache-miss path), the
second on the caches the first filled (the cache-hit path the timed passes
take).  Each collects every query's rows and compares them with the query's
registered oracle_sql() on DuckDB, ignoring row order, floats at %.17g.  A query that fails its check stays in
the mix and counts as a failed operation, as does any query that raises.

The tables are a byte-identical copy of the test data (testdata/sf0.1; the
set-up's warm-up and --size tiny read testdata/sf0.001), shipped in the
benchmark's directory because a run may read only its checkout.  The
run's --seed picks the query order."""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time
from contextlib import nullcontext

import harness

# 6 of bench.py's 18 HEADLINE queries, in its order: the three TPC-H
# shapes and the cache users the workload is for (indicators' valid-trades
# cache; text_analysis and vocab_topk, whose operators keep generations in
# functions.cachegen).  Each query runs in two check passes besides the
# timed passes; with more of the 18 a run outgrows the ~45 s that the
# benchmark's whole protocol (70 runs in under an hour) leaves it on a 4-CPU
# host.  dedup_minhash_lsh is out: its cold cache build alone took 8 s a
# run, and once cached it is timed at 0.13 s.
HEADLINE = [
    "indicators", "tpch_q1", "tpch_q3", "tpch_q6", "text_analysis", "vocab_topk",
]
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
DATA = {"full": os.path.join(TESTDATA, "sf0.1"), "tiny": os.path.join(TESTDATA, "sf0.001")}
WARM_DATA = DATA["tiny"]
# the set-up's warm-up: two cheap queries at the smallest scale (the check
# passes compile the rest before timing; a whole pass per set-up would
# triple the run's set-up time)
WARM_QUERIES = ["indicators", "tpch_q6"]
MIN_PASSES = 2  # timed passes, whatever --seconds allows


def lineitem_path() -> str:
    """The canary's parquet scan input: the same sf0.1 lineitem file
    bench.py's canary reads."""
    return os.path.join(DATA["full"], "lineitem.parquet")


def _tables(data_dir: str) -> list[str]:
    return sorted(f[:-len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else format(v, ".17g")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canonical(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, digest) of a result set: columns by name, rows in any
    order, every float at %.17g."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


# Oracle answers known for the shipped tables, keyed by (data, DuckDB
# version, oracle SQL): a checkout's first run need not wait for DuckDB.
# A changed oracle, dataset or DuckDB misses the key and recomputes.
KNOWN_ANSWERS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_mix_oracle.json")


def _data_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in _tables(data_dir):
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _load(path: str) -> dict:
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _oracles(data_dir: str, names: list[str]) -> dict[str, list]:
    """Oracle (row count, digest) per query: run on DuckDB unless the
    answer is already known for this data, DuckDB version and SQL."""
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    data = _data_digest(data_dir)
    keys = {n: hashlib.sha256(json.dumps([data, duckdb.__version__, sqls[n]]).encode())
            .hexdigest()[:24] for n in names}
    cache_path = os.path.join(harness.CACHE, "query_mix_oracle.json")
    known = {**_load(KNOWN_ANSWERS), **_load(cache_path)}
    missing = [n for n in names if keys[n] not in known]
    if missing:
        con = harness.duckdb_connect()
        for t in _tables(data_dir):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for n in missing:
            cur = con.execute(sqls[n])
            known[keys[n]] = list(canonical(cur.fetchall(), [d[0] for d in cur.description]))
        con.close()
        os.makedirs(harness.CACHE, exist_ok=True)
        harness.write_json(cache_path, {**_load(cache_path), **{keys[n]: known[keys[n]] for n in missing}})
    return {n: known[keys[n]] for n in names}


def prepare(spark, seed: int, size: str) -> dict:
    import __spark_entry__ as entry

    return {
        "data": DATA[size],
        "warm": WARM_DATA,
        "queries": entry.queries(),
        "oracle": _oracles(DATA[size], HEADLINE),
        "seed": seed,
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(spark, inputs: dict) -> None:
    """WARM_QUERIES at the smallest scale."""
    for name in WARM_QUERIES:
        _noop(inputs["queries"][name](spark, inputs["warm"]))


def instrument(tracer, inputs: dict) -> None:
    """Each registered query becomes a plan builder: plans.build_s is the
    time from calling it to getting its DataFrame back."""
    inputs["queries"] = {n: tracer.builder(fn, f"plans.{n}")
                         for n, fn in inputs["queries"].items()}


def check_pass(spark, inputs: dict, res: harness.Result, label: str) -> dict[str, float]:
    """Collect each query once, in a seed-shuffled order, and compare its
    rows with its oracle.  Returns the seconds each query took."""
    times = {}
    order = HEADLINE[:]
    random.Random(f"{inputs['seed']}:{label}").shuffle(order)
    for name in order:
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            df = inputs["queries"][name](spark, inputs["data"])
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            res.fail(f"{name} ({label} check): {type(e).__name__}: {e}"[:300])
            continue
        times[name] = time.perf_counter() - t0
        check_rows(f"{name} ({label} check)", rows, df.columns, inputs["oracle"][name], res)
    return times


def check_passes(spark, inputs: dict, res: harness.Result) -> dict[str, dict[str, float]]:
    """The two check passes, before timing: a cold one (cache misses; it
    fills the generation caches) and a warm one (cache hits, the path the
    timed passes take).  The second also lets the JIT compiler finish its
    work on the queries before they are timed."""
    return {label: check_pass(spark, inputs, res, label) for label in ("cold", "warm")}


def check_rows(name: str, rows: list[tuple], columns: list[str], want, res: harness.Result) -> None:
    got = canonical(rows, columns)
    if got != tuple(want):
        res.fail(f"{name}: {got[0]} rows, digest {got[1]} != oracle {want[0]} rows, {want[1]}")


def measure(spark, inputs: dict, seconds: float, res: harness.Result, tracer=None,
            run_dir: str = "") -> dict:
    """Whole passes while the next one should end within `seconds` (at
    least MIN_PASSES)."""
    per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
    pass_s = []
    t0 = time.perf_counter()
    p = first = inputs.get("passes", 0)  # pass orders keep going across calls
    while len(pass_s) < MIN_PASSES or time.perf_counter() - t0 + pass_s[-1] <= seconds:
        order = HEADLINE[:]
        random.Random(f"{inputs['seed']}:{p}").shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            res.attempted += 1
            ctx = tracer.op(f"query_mix.{name}", query=name) if tracer else nullcontext()
            try:
                with ctx:
                    tq = time.perf_counter()
                    df = inputs["queries"][name](spark, inputs["data"])
                    with tracer.span("session.execute") if tracer else nullcontext():
                        _noop(df)
                    per_query[name].append(time.perf_counter() - tq)
            except Exception as e:
                res.fail(f"{name} pass {p}: {type(e).__name__}: {e}"[:300])
        pass_s.append(time.perf_counter() - t_pass)
        p += 1
    inputs["passes"] = p
    return {"per_query": per_query, "pass_s": pass_s, "passes": p - first}


def summarize(samples: dict, res: harness.Result) -> None:
    """With no query done (every one raised), throughput is 0 and latency
    the whole measured time: the worst the window allows."""
    pooled = [x for xs in samples["per_query"].values() for x in xs]
    n = len(pooled)
    res.metrics["throughput_per_s"] = n / sum(samples["pass_s"])
    res.metrics["latency_p50_ms"] = (harness.percentile(pooled, 50) if pooled
                                     else sum(samples["pass_s"])) * 1e3
    res.name("query_per_s", res.metrics["throughput_per_s"], "1/s", n, "queries per second of passes")
    for q in (50, 90):
        ok = harness.reportable(n, q)
        res.name(f"query_p{q}_s", harness.percentile(pooled, q) if ok else None, "s", n,
                 "pooled per-query latency" if ok else
                 f"pooled per-query latency; needs >= {int(1000 / (100 - q))} samples")


def layer_metrics(samples: dict) -> dict[str, float]:
    return {f"query_mix.{n}_s": statistics.median(xs) if xs else 0.0
            for n, xs in samples["per_query"].items()}
