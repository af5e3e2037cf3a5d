"""Rows probe: the sha256 of the sorted collected rows of every ``CASES``
entry of ``tests/test_scan_equivalence.py``, at both of its split sizes,
through both entry points (``spark.read.format`` and ``read_<fmt>``).

    cd REPO && ROWS_OUT=OUT.tsv python -m pytest -q -p no:cacheprovider \
        -p tests.conftest /abs/path/to/rows_probe.py

Run from REPO so the library, the test module's inputs and Spark's Python
workers all come from that checkout; run it on two checkouts and ``diff``
the tables. One line per case, split and entry point:
``case<TAB>split<TAB>entry<TAB>rows<TAB>sha256``, the hash taken over the
``repr`` of the test module's canonical sorted rows.
"""

import hashlib
import os

from tests.test_scan_equivalence import CASES, SPLITS, _functional, _rows, inputs  # noqa: F401


def test_rows_probe(spark, inputs):  # noqa: F811
    lines = []
    for fmt, key, opts in CASES:
        case = f"{fmt}-{key.split('/')[-1]}-{'-'.join(opts)}"
        for split in SPLITS:
            path = inputs.get(key, key)
            o = dict(opts)
            if fmt == "fasta" and split is not None:
                o["window"] = str(split)
            reader = spark.read.format(fmt).options(**o)
            if split is not None and fmt != "fasta":
                reader = reader.option("split_size", split)
            for entry, df in (("format", reader.load(path)), ("function", _functional(spark, fmt, path, o))):
                rows = _rows(df)
                digest = hashlib.sha256(repr(rows).encode()).hexdigest()
                lines.append(f"{case}\t{split}\t{entry}\t{len(rows)}\t{digest}")
    with open(os.environ["ROWS_OUT"], "w") as f:
        f.write("\n".join(lines) + "\n")
