"""Worker-phase probe for Spark Python workers (evidence tool, not library code).

Put this directory on ``PYTHONPATH`` and set ``PROBE_OUT`` to a directory
before starting the driver; Spark passes both on to its Python daemon.
In the daemon (``python -m pyspark.daemon``) and any ``pyspark.worker``
it wraps, per task:

- ``setup_spark_files`` (start and duration),
- ``importlib.invalidate_caches`` (duration; called inside the above),
- ``read_udfs`` (duration: UDF unpickle, incl. package imports),
- the first Arrow batch (seconds from the ``load_stream`` call, and from
  the task's ``setup_spark_files`` start).

Each event is one JSON line in ``$PROBE_OUT/<pid>.jsonl``. Any other
process (the driver, tools) is left alone. ``worker_probe.py`` runs a
perfbench workload under it and summarizes the lines.
"""

import json
import os
import sys
import time

_OUT = os.environ.get("PROBE_OUT")
_ARGV = getattr(sys, "orig_argv", [])


def _install() -> None:
    import importlib

    import pyspark.worker as worker

    state = {"task": 0, "t_setup": 0.0}

    def emit(ev, start, dur, **extra):
        line = {"pid": os.getpid(), "task": state["task"], "ev": ev,
                "start": start, "dur": dur, **extra}
        with open(os.path.join(_OUT, f"{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(line) + "\n")

    def timed(ev, fn):
        def wrapper(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                emit(ev, t0, time.time() - t0)
        return wrapper

    orig_setup = worker.setup_spark_files

    def setup_spark_files(infile):
        state["task"] += 1
        state["t_setup"] = time.time()
        return timed("setup_spark_files", orig_setup)(infile)

    importlib.invalidate_caches = timed("invalidate_caches", importlib.invalidate_caches)
    worker.setup_spark_files = setup_spark_files

    orig_read_udfs = worker.read_udfs

    def read_udfs(*a, **kw):
        func, profiler, deserializer, serializer = timed("read_udfs", orig_read_udfs)(*a, **kw)
        load_stream = deserializer.load_stream

        def first_batch_timed(stream):
            t0 = time.time()
            first = True
            for batch in load_stream(stream):
                if first:
                    first = False
                    now = time.time()
                    emit("first_batch", t0, now - t0, since_setup=now - state["t_setup"])
                yield batch

        deserializer.load_stream = first_batch_timed
        return func, profiler, deserializer, serializer

    worker.read_udfs = read_udfs


if _OUT and any(a in ("pyspark.daemon", "pyspark.worker") for a in _ARGV):
    _install()
