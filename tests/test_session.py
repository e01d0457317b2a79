"""Session sizing: the default heap comes from the host's memory."""

from __future__ import annotations

import os

import pytest


def test_default_heap_fits_physical_memory(monkeypatch):
    from mini_hadoop_spark import session

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session.driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 2**20 <= session._physical_memory_bytes()


def test_heap_env_override_wins(monkeypatch):
    from mini_hadoop_spark import session

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"


def test_physical_memory_reads_meminfo():
    from mini_hadoop_spark import session

    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo on this platform")
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert session._physical_memory_bytes() == kb * 1024


def test_worker_daemon_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    """The patched invalidate_caches re-reads an archive's directory on
    its first call and after the archive's stat changes, not otherwise."""
    import zipfile
    import zipimport

    from mini_hadoop_spark import worker_daemon

    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "x = 1\n")
    importer = zipimport.zipimporter(str(archive))
    reads = []
    monkeypatch.setattr(worker_daemon, "_reread", lambda self: reads.append(self.archive))
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 1
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("b.py", "y = 2\n")
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2


def test_python_workers_run_the_patched_invalidate_caches(spark):
    """Python workers fork from worker_daemon, so the call every task
    makes is the stat-checked one."""

    def source(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(2), 2).map(source).collect()
    assert all(f.endswith("worker_daemon.py") for f in files), files


def test_python_udf_outside_the_checkout(tmp_path):
    """A session started from another working directory with PYTHONPATH
    unset still runs Python UDFs that call into the package: the
    workers get the package's parent on their path from the session."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from pyspark.sql import functions as F\n"
        "from mini_hadoop_spark.session import get_spark\n"
        "from mini_hadoop_spark.sources.dfs import _binary_ranges\n"
        "spark = get_spark('udf-outside-checkout', cpus=1)\n"
        "n_ranges = F.udf(lambda n: len(_binary_ranges(n, 10)), 'int')\n"
        "rows = spark.range(3).select(n_ranges(F.col('id') * 10).alias('n')).collect()\n"
        "print(sorted(r.n for r in rows))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 1, 2]"
