"""session.skip_unchanged_zip_rereads: inside Spark Python workers,
zipimporter.invalidate_caches re-reads an archive only when its
(mtime_ns, size, inode) changed, so a reused worker stops re-parsing
pyspark.zip, py4j and the spark-core jar before every task."""

import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from disq_spark.session import skip_unchanged_zip_rereads


def _patched() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def restore_zipimporter(monkeypatch):
    """Undo any install when the test ends."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )


@pytest.fixture
def in_task(monkeypatch, restore_zipimporter):
    """Make TaskContext.get() answer as it does inside a Spark task."""
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module m1, first on sys.path; the importer, its
    directory cache and the imported modules are dropped afterwards."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_driver_zipimporter_is_left_unpatched():
    import disq_spark  # noqa: F401

    assert TaskContext.get() is None
    assert not _patched()


def test_unchanged_archive_is_not_reread(in_task, zip_on_path, reads):
    skip_unchanged_zip_rereads()
    import m1

    assert m1.X == 1
    importer = sys.path_importer_cache[zip_on_path]
    del reads[:]
    importer.invalidate_caches()  # no signature yet: read once
    assert reads == [zip_on_path]
    importer.invalidate_caches()
    assert reads == [zip_on_path], "an unchanged archive must not be re-read"

    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(zip_on_path).st_size != st.st_size
    importer.invalidate_caches()
    assert reads == [zip_on_path] * 2, "a rewritten archive is re-read once"
    import m2

    assert m2.Y == 2
    importer.invalidate_caches()
    assert reads == [zip_on_path] * 2


def test_importers_present_at_install_are_not_reread(in_task, zip_on_path, reads):
    import m1  # noqa: F401

    importer = sys.path_importer_cache[zip_on_path]
    skip_unchanged_zip_rereads()
    del reads[:]
    importer.invalidate_caches()
    assert reads == []


def test_archive_that_cannot_be_stat_is_reread(in_task, zip_on_path, reads):
    import m1  # noqa: F401

    importer = sys.path_importer_cache[zip_on_path]
    skip_unchanged_zip_rereads()
    os.remove(zip_on_path)
    del reads[:]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [zip_on_path] * 2
    assert zip_on_path not in zipimport._zip_directory_cache


def test_install_twice_wraps_once(in_task):
    original = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    once = zipimport.zipimporter.invalidate_caches
    assert once is not original
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is once


def test_nothing_installed_outside_a_task(restore_zipimporter):
    assert TaskContext.get() is None
    skip_unchanged_zip_rereads()
    assert not _patched()


def test_nothing_installed_on_python_3_13(in_task, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    skip_unchanged_zip_rereads()
    assert not _patched()


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """Two back-to-back plan_frame jobs: every task a worker process runs
    sees the patched method and the same pyspark.zip directory object —
    after the worker's first task, setup_spark_files re-reads nothing."""
    import pandas as pd

    from disq_spark.sources.plan import plan_frame

    def probe(key, start, end):
        import os
        import zipimport

        import disq_spark  # noqa: F401  (as every library UDF's unpickle does)

        [archive] = [a for a in zipimport._zip_directory_cache if os.path.basename(a) == "pyspark.zip"]
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "patched": [getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)],
            "dir_id": [id(zipimport._zip_directory_cache[archive])],
        })

    schema = "pid long, patched boolean, dir_id long"
    plan = [("chunk", i, i + 1) for i in range(8)]
    rows = plan_frame(spark, plan, probe, schema).collect()
    rows += plan_frame(spark, plan, probe, schema).collect()
    assert all(r.patched for r in rows)
    by_pid: dict[int, set[int]] = {}
    for r in rows:
        by_pid.setdefault(r.pid, set()).add(r.dir_id)
    assert len(by_pid) < len(rows), "16 tasks on local[N] must reuse a worker"
    assert all(len(ids) == 1 for ids in by_pid.values()), by_pid


def test_daemon_preloads_worker_imports_and_the_zip_check():
    """``disq_spark.daemon`` imports what workers run and installs the
    zip check before it forks them (run as Spark runs a daemon module,
    minus the manager loop)."""
    import subprocess

    probe = (
        "import runpy, sys, zipimport\n"
        "runpy.run_module('disq_spark.daemon', run_name='not_main')\n"
        "print(all(m in sys.modules for m in ('pandas', 'pyarrow', 'disq_spark.sinks.bam')),"
        " getattr(zipimport.zipimporter.invalidate_caches, 'stat_checked', False))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", probe], cwd=root, capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["True", str(sys.version_info < (3, 13))]


def test_local_workers_fork_from_the_preloading_daemon(spark):
    """On a local master every Python worker's parent is the
    ``disq_spark.daemon`` process, and what the daemon imported is out of
    the workers' garbage collections."""
    import pandas as pd

    from disq_spark.sources.plan import plan_frame

    def probe(key, start, end):
        import gc
        import os

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        yield pd.DataFrame({"parent": [parent], "frozen": [gc.get_freeze_count()]})

    rows = plan_frame(spark, [("chunk", i, i + 1) for i in range(4)], probe, "parent string, frozen long").collect()
    assert rows and all("-m disq_spark.daemon" in r.parent for r in rows), rows
    assert all(r.frozen > 10_000 for r in rows), rows
