"""Fixed per-operation costs of the engine's sessions: the Python worker
daemon (patterns_devkit_spark/daemon.py) and the fixture schema cache
in queries.t()."""
import importlib
import os
import shutil
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pyarrow.parquet as pq

from patterns_devkit_spark import daemon
from patterns_devkit_spark.queries import t

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pandas_udf_runs_outside_checkout_without_pythonpath(tmp_path):
    """Workers start through the engine daemon and import the package
    from the checkout even when the driver runs elsewhere with no
    PYTHONPATH."""
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ROOT!r})
            from patterns_devkit_spark.session import get_spark

            def probe(it):
                import zipimport
                import pandas as pd
                import patterns_devkit_spark
                for pdf in it:
                    yield pd.DataFrame({{
                        "n": [len(pdf)],
                        "pkg": [patterns_devkit_spark.__file__],
                        "patched": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
                    }})

            spark = get_spark("outside", shuffle_partitions=2)
            spark.sparkContext.setLogLevel("ERROR")
            rows = spark.range(0, 40, numPartitions=2).mapInPandas(
                probe, "n long, pkg string, patched string"
            ).collect()
            print("RESULT", sum(r.n for r in rows), rows[0].pkg, rows[0].patched)
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    _, n, pkg, patched = lines[0].split(" ")
    assert int(n) == 40
    assert pkg == os.path.join(ROOT, "patterns_devkit_spark", "__init__.py")
    if sys.version_info[:2] < (3, 13):
        assert patched == daemon.__file__


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_zip_stamps_skip_unchanged_archive_and_reread_rewritten(tmp_path, monkeypatch):
    # monkeypatch restores the stock method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"stamp_a_{tag}", f"stamp_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {mod_a: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).X == 1

    assert daemon.install_zip_stamps() == (sys.version_info[:2] < (3, 13))
    if sys.version_info[:2] >= (3, 13):
        return
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first sight of the archive: read and stamp
    assert reads.count(archive) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(mod_b).Y == 2
    for m in (mod_a, mod_b):
        sys.modules.pop(m, None)


def test_zip_stamps_leave_zipimport_alone_on_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert daemon.install_zip_stamps() is False
    assert zipimport.zipimporter.invalidate_caches is stock


def _jobs_in_group(spark, fn):
    sc = spark.sparkContext
    group = f"t-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixture_schema_inferred_once_per_file_version(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path / "nation.parquet")
    path = str(tmp_path / "nation.parquet")
    t(spark, str(tmp_path), "nation")

    df, jobs = _jobs_in_group(spark, lambda: t(spark, str(tmp_path), "nation"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema

    table = pq.read_table(path)
    pq.write_table(table.append_column("extra", pa.array([1] * table.num_rows, pa.int64())), path)
    df, jobs = _jobs_in_group(spark, lambda: t(spark, str(tmp_path), "nation"))
    assert jobs >= 1
    assert "extra" in df.columns
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == table.num_rows
