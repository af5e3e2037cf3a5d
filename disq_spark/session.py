"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every default here is chosen to
also be the right default on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune with data volume.
- Arrow enabled for every Python<->JVM exchange (the decode boundary for
  the genomics sources is Arrow-batched, never row-at-a-time).
- Session timezone pinned to UTC so results are reproducible against
  external oracles regardless of cluster locale.
- On a local master Python workers fork from ``disq_spark.daemon``,
  which has already imported what they run, so a job's time does not
  depend on how many new workers its task timing makes it start.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "disq_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with disq_spark defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real cluster the master
    comes from spark-submit and this argument is left None.
    """
    # Make the package importable on executor Python workers regardless of
    # the user's cwd: prepend our parent dir to PYTHONPATH before the JVM
    # (and hence the forked workers) starts. On a real cluster this is
    # what --py-files / spark.submit.pyFiles does; this covers local mode.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores. On a cluster AQE coalesces from this initial
        # value, so a few x cores is a safe starting point at any scale.
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        # workers fork from a daemon that has already imported what they
        # run (disq_spark/daemon.py); it must be importable at daemon
        # start, which the PYTHONPATH above ensures in local mode
        builder = builder.config("spark.python.daemon.module", "disq_spark.daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _archive_signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed, inside Spark Python workers on CPython < 3.13.

    Root cause of 0.2-0.3 s of fixed cost per Python task: before every
    task pyspark's worker calls ``importlib.invalidate_caches()``
    (``setup_spark_files``, pyspark 4.1.2 ``worker_util.py:144``). On
    CPython < 3.13, ``zipimporter.invalidate_caches`` re-parses the
    archive's whole central directory (``zipimport.py:329`` on 3.11),
    and Spark puts three archives ahead of site-packages on every
    worker's path: ``pyspark.zip``, ``py4j-*-src.zip`` and the
    ``spark-core`` jar. A reused worker holds 16 zipimporters on them
    (12 on pyspark.zip's 1328 entries, 2 on the jar's 5359, 2 on
    py4j's), so each task re-read 26,672 zip entries before the UDF
    body started: a median of 0.23-0.30 s per task on a 4-core x86
    host, against 2-70 ms of UDF.

    The patched method stats the archive and calls the original only
    when ``(st_mtime_ns, st_size, st_ino)`` differs from the signature
    recorded on that importer at its last read, or when the stat fails.
    Spark's reason for the call still holds: an ``addPyFile`` zip is a
    new path entry with its own new importer, and an archive rewritten
    in place or replaced changes its signature, so it is re-read. This
    is the behaviour CPython 3.13 has natively (its
    ``invalidate_caches`` only drops the cache entry and reads lazily).
    Importers that already exist when this is installed were read by
    the current task's ``setup_spark_files`` moments before; they get
    their signature now.

    Installed once per process from ``disq_spark/__init__.py``; every
    disq_spark UDF imports the package when its closure unpickles. It
    does nothing outside a task (``TaskContext.get()`` is None), so the
    driver's importers stay as they are, and nothing on 3.13+. Calling
    it again is a no-op. ``disq_spark.daemon``, which imports the
    package before any task, installs it with ``check_zip_rereads``
    before it forks the workers."""
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        check_zip_rereads()


def check_zip_rereads() -> None:
    """Install the stat check of ``skip_unchanged_zip_rereads`` in this
    process, whether or not a task runs here (nothing on 3.13+)."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return

    def invalidate_caches(self) -> None:
        sig = _archive_signature(self.archive)
        if sig is None or sig != getattr(self, "_archive_sig", None):
            reread(self)
            self._archive_sig = sig

    invalidate_caches.stat_checked = True
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._archive_sig = _archive_signature(importer.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
