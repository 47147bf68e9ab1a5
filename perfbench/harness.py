"""Shared plumbing for the benchmark workloads: checkout-local paths, the
Spark launch settings (log4j to a per-run file), provenance, peak memory,
percentiles and the result record every workload fills in."""

from __future__ import annotations

import gc
import hashlib
import json
import os
import platform
import shutil
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")  # every file the benchmark writes
DATA = os.path.join(WORK, "data")  # generated inputs, reused across runs
CACHE = os.path.join(WORK, "cache")  # oracle answers, reused across runs
RUNS = os.path.join(WORK, "runs")  # one directory per run: log, artifact


def cpu_count() -> int:
    """What `nproc` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def prepare_process(run_dir: str) -> None:
    """Keep Spark, py4j and Python temp files inside the checkout and run
    Spark as local[nproc] (session.py reads SPARK_GRAFT_CPUS)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpu_count()))
    import tempfile

    tempfile.tempdir = tmp


LOG4J = """\
status = error
appender.file.type = File
appender.file.name = file
appender.file.fileName = {path}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{HH:mm:ss.SSS}} %p %c{{1}}: %m%n
rootLogger.level = info
rootLogger.appenderRef.file.ref = file
"""


def spark_conf(run_dir: str) -> dict[str, str]:
    """The benchmark's launch settings, passed to get_spark(extra_conf=...).
    log4j writes to <run_dir>/spark.log instead of the console, so stdout
    carries only the benchmark's own metric lines."""
    log_path = os.path.join(run_dir, "spark.log")
    props = os.path.join(run_dir, "log4j2.properties")
    with open(props, "w") as f:
        f.write(LOG4J.format(path=log_path))
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Dlog4j2.configurationFile=file:{props} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the status store must still hold every stage of the run when the
        # traced run reads it back at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def start_spark(run_dir: str):
    from marketstream_etl_spark.session import get_spark

    return get_spark("perfbench", extra_conf=spark_conf(run_dir))


def _version(cmd: list[str]) -> str | None:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout or out.stderr).strip().splitlines()[0] if out.returncode == 0 else None


def source_digest() -> str:
    """Content hash of the program's Python sources: the code identity when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "marketstream_etl_spark")
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(pkg)):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def provenance(spark, seed: int) -> dict:
    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _version(["git", "rev-parse", "HEAD"]),
        "source_sha256": source_digest(),
        "seed": seed,
        "host": platform.node(),
    }


def _rss_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:  # the process has exited
        pass
    return 0


def duckdb_connect():
    """An in-memory DuckDB connection for the oracles; no progress bar on
    stdout, which carries only metric lines."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to other guests;
    its share over a run says how much of the run's noise came from outside."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def rss_mb(jvm_pid: int) -> float:
    """Resident memory of the JVM plus the Python driver now, in MB."""
    return (_rss_kb(jvm_pid) + _rss_kb("self")) / 1024.0


def rss_after_gc_mb(spark) -> float:
    """Resident memory of the JVM plus the Python driver right after a full
    GC in both: what the program keeps (cached data, state, loaded code)
    rather than where the JVM's heap sizing happened to peak."""
    spark._jvm.System.gc()
    gc.collect()
    # the JVM hands the freed heap back to the OS on a background thread
    pid = spark._jvm.ProcessHandle.current().pid()
    last = rss_mb(pid)
    for _ in range(20):
        time.sleep(0.2)
        now = rss_mb(pid)
        if now > last * 0.99:
            return min(now, last)
        last = now
    return last


class RssSampler:
    """Peak of JVM + Python resident memory, sampled every 50 ms from start()
    to stop().  The run starts it after a full GC that follows input
    generation, so the peak belongs to set-up and the workload, not to the
    generators or the DuckDB oracles."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _rss_kb(self.jvm_pid) + _rss_kb("self"))


    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n: int, q: float) -> bool:
    """A percentile is reported only with at least 10 samples beyond it."""
    return n * (100.0 - q) / 100.0 >= 10


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@dataclass
class Result:
    """What one workload run measured.  `metrics` holds the end-to-end
    metrics under their BENCHMARK.json names; `named` holds the same figures
    under the workload's own names (etl_trades_per_s, ...) with units and
    sample counts, for the human-readable lines and the artifact."""

    workload: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    named: dict[str, dict] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def name(self, key: str, value: float | None, unit: str, n: int, note: str = "") -> None:
        self.named[key] = {"value": value, "unit": unit, "n": n, "note": note}


def write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(path + ".tmp", path)


def say(line: str) -> None:
    """One human-readable line on stdout (metric output only)."""
    print(line, flush=True)
