"""Launcher hygiene, session lifecycle, fixtures and small statistics
helpers shared by the benchmark's workloads.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
fixtures and cached oracle answers persist across runs (they depend
only on the fixture generator and the oracle SQL), while each run gets
its own scratch directory (Spark local dirs, temp files, warehouses,
working directory) that is deleted when the run ends.
"""
from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "patterns_devkit_spark")
GENERATOR = os.path.join(ROOT, "tools", "gen_testdata.py")

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


def check_checkout() -> None:
    for path in (os.path.join(PACKAGE, "__init__.py"), GENERATOR):
        if not os.path.isfile(path):
            raise MissingProgram(f"{os.path.relpath(path, ROOT)} not found under {ROOT}")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(run_dir: str, driver_memory: str) -> dict[str, str]:
    """Point every place Spark, Python workers and temp files write at
    the run's scratch directory, and make the package importable from
    Python workers (pandas UDFs unpickle by module path). Must run
    before the first SparkSession starts: the JVM and its workers
    inherit this environment."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEMORY": driver_memory,
        # the whole heap from the start: a heap that G1 grows while the
        # passes run makes the early passes pay for the resizing
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{driver_memory}" pyspark-shell',
    }
    os.environ.update(env)
    # the engine's defaults are what the benchmark measures
    for var in ("PDS_CATALOG_BACKEND", "PDS_LINK_MODE"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(run_dir)  # spark-warehouse/, metastore_db/, derby.log land here
    return env


# -- session lifecycle ---------------------------------------------------


def start_session():
    from patterns_devkit_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the SparkContext (which ends the Python workers), then the
    JVM, and wait for the JVM to exit. The JVM ends when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def new_engine(spark, parent: str):
    from patterns_devkit_spark import Engine

    os.makedirs(parent, exist_ok=True)
    path = os.path.join(parent, f"wh-{time.monotonic_ns()}")
    return Engine(path, spark=spark)


# -- fixtures ------------------------------------------------------------


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def fixture_dir(sf: float) -> str:
    """Fixtures come from the repository's own deterministic generator;
    the directory name carries the generator's hash, so a changed
    generator gets fresh fixtures (and fresh oracle answers)."""
    return os.path.join(WORK, "fixtures", f"sf{sf:g}-{_file_sha(GENERATOR)}")


def ensure_fixtures(spark, sf: float) -> str:
    out = fixture_dir(sf)
    if os.path.isdir(out):
        return out
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_gen_testdata", GENERATOR)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gen.generate(spark, sf, tmp, 8)
    os.replace(tmp, out)
    return out


def table_path(fixtures: str, name: str) -> str:
    """DuckDB source for a fixture table (multi-file tables are
    directories named <table>.parquet)."""
    path = os.path.join(fixtures, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def duckdb_views(fixtures: str):
    import duckdb

    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(fixtures, name)}')")
    return con


def fixture_rows(fixtures: str, name: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(fixtures, f"{name}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class OracleCache:
    """DuckDB oracle answers over the fixtures, cached on disk by the
    oracle SQL's hash: they depend only on the SQL and the fixtures, and
    the slowest take longer than a whole benchmark run."""

    def __init__(self, fixtures: str):
        self.fixtures = fixtures
        self.dir = os.path.join(WORK, "oracles", os.path.basename(fixtures))
        self._con = None

    def answer(self, name: str, sql: str):
        import pandas as pd

        sha = hashlib.sha256(sql.encode()).hexdigest()[:12]
        path = os.path.join(self.dir, f"{name}-{sha}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        if self._con is None:
            self._con = duckdb_views(self.fixtures)
        df = self._con.sql(sql).df()
        os.makedirs(self.dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        df.to_parquet(tmp)
        # keep the cache entry only if it reads back as the same answer
        if frames_differ(pd.read_parquet(tmp), df) is None:
            os.replace(tmp, path)
        else:
            os.remove(tmp)
        return df


# -- result comparison (same canonical form as tools/parity.py) ----------


def canonicalize(pdf):
    import numpy as np

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind == "f":
            pdf[c] = col.round(6)
        elif col.dtype.kind == "M":
            pdf[c] = col.astype("datetime64[us]")
        elif col.dtype == object:
            pdf[c] = col.map(
                lambda v: tuple(np.asarray(v).tolist()) if isinstance(v, (list, np.ndarray)) else v
            )
    return pdf.sort_values(by=list(pdf.columns), na_position="first", kind="mergesort").reset_index(
        drop=True
    )


def frames_differ(got, want, atol: float = 1.5e-6) -> str | None:
    """None when equal after canonicalization, else a one-line reason."""
    import numpy as np
    import pandas as pd

    a, b = canonicalize(got), canonicalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row count differs: {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.allclose(
                pd.to_numeric(x, errors="coerce").fillna(-9e18),
                pd.to_numeric(y, errors="coerce").fillna(-9e18),
                rtol=0,
                atol=atol,
            )
        else:
            ok = x.astype(str).equals(y.astype(str))
        if not ok:
            return f"column {c!r} differs"
    return None


# -- measurements --------------------------------------------------------


def order_stat(samples: list[float], rank: float) -> float:
    """Harrell-Davis estimate of the order statistic of 1-based `rank`:
    a Beta(rank, n + 1 - rank)-weighted mean of all the sorted samples.
    A plain order statistic of a mix of operation kinds jumps whenever
    two kinds swap places across it; this one moves smoothly."""
    xs = sorted(samples)
    n = len(xs)
    a, b = rank, n + 1 - rank
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 400 * n  # midpoint rule over [0, 1]; sample i owns [i/n, (i+1)/n)
    weights = [0.0] * n
    for j in range(steps):
        u = (j + 0.5) / steps
        weights[min(n - 1, int(u * n))] += math.exp(log_norm + (a - 1) * math.log(u) + (b - 1) * math.log1p(-u))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def p50(samples: list[float]) -> float:
    """Median of a sample mix (Harrell-Davis)."""
    return order_stat(samples, (len(samples) + 1) / 2)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile that still has at
    least ten samples above it, estimated as in `p50`. Below 22 samples
    that percentile would not reach the median, so the bar drops to one
    sample above (the second largest); a single sample is its own tail."""
    n = len(samples)
    above = 10 if n >= 22 else min(1, n - 1)
    return order_stat(samples, n - above), 100.0 * (n - above) / n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def disk_bytes(path: str) -> int:
    """Bytes of the regular files under path, each inode counted once
    (versions share carried files through hardlinks)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            st = os.lstat(os.path.join(dirpath, name))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot (0 where /proc/stat has no steal column)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def source_sha() -> str:
    """Hash of the package sources, which identifies the program when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
