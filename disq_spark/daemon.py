"""Spark's Python worker daemon (``pyspark.daemon``) with the workers'
imports done once, before it forks them; ``get_session`` names it in
``spark.python.daemon.module`` on a local master.

A worker forked from the stock daemon imports pandas, pyarrow,
pyspark's Arrow serializers and this package on its first task: about
0.6 s on a 4-core x86 host, more while the other cores are busy. A job
pays it for every worker beyond those the pool already holds, and how
many workers a stage holds at once depends on task timing (each task of
a stage that chains two ``mapInPandas``, such as a read written straight
back, holds two). So the same job took 0.45 s in one run and 1.2 s in
the next. A worker forked from this daemon inherits the modules, and
starts for the cost of the fork.

The daemon then freezes what it imported (``gc.freeze``). A reused
worker runs ``gc.collect()`` after every task (``pyspark/daemon.py``),
and in a stock worker that collection walks the ~73,000 objects of
those modules: 45 ms per task on the host above, against 0.4 ms once
they sit in the permanent generation. It also keeps the workers from
copying the pages they share with the daemon.

The package import (this module's parent) runs before any task, so
``skip_unchanged_zip_rereads`` would install nothing in the workers;
the daemon installs the zip check itself, and the forked workers
inherit it. Run as ``python -m disq_spark.daemon [worker_module]``,
which is how Spark starts a daemon module.
"""

import gc

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.sql.pandas.types  # noqa: F401

from disq_spark.session import check_zip_rereads

check_zip_rereads()
gc.freeze()

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
