"""Dump the rows of every depth / interval operator for one checkout, at
one or more prefix-sum chunk sizes, so two revisions can be compared.

    python equivalence_probe.py REPO OUT.pkl CHUNKS
    python equivalence_probe.py --compare A.pkl B.pkl

CHUNKS is a comma list (e.g. ``1048576,4096,97``); a checkout whose
``operators/intervals.py`` has no ``CHUNK`` constant runs at its own
default and should be given one chunk size. Inputs (seed 3): 30,000
random reads on three contigs over 6 Mb plus a book-ended pair
(end + 1 == next start) and a 1-base read as ``a``, 10,000 more as ``b``,
and four reference contigs (one with no ``a`` interval). Each operator's
rows are stored sorted; ``--compare`` prints, per chunk size of B, the
operators whose row multiset differs from A's first chunk size.
"""

from __future__ import annotations

import os
import pickle
import random
import sys


def dump(repo: str, out: str, chunks: list[int]) -> None:
    sys.path.insert(0, os.path.abspath(repo))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from disq_spark.operators import intervals as IV
    from disq_spark.operators.genomics import callable_loci, coverage_depth
    from disq_spark.session import get_session

    spark = get_session("equivalence_probe", shuffle_partitions=8)
    rng = random.Random(3)

    def gen(n):
        rows = []
        for _ in range(n):
            s = rng.randrange(1, 6 << 20)
            rows.append((rng.choice(["c1", "c2", "c3"]), s, s + rng.randrange(0, 3000)))
        return rows

    schema = "contig string, start long, end long"
    a = spark.createDataFrame(gen(30000) + [("c1", 100, 199), ("c1", 200, 299), ("c2", 7, 7)], schema)
    b = spark.createDataFrame(gen(10000), schema)
    refs = [("c1", 7 << 20), ("c2", 7 << 20), ("c3", 7 << 20), ("c4", 1000)]

    def rows(df, n=None):
        return sorted(tuple(r)[:n] for r in df.collect())

    res = {}
    for chunk in chunks:
        if hasattr(IV, "CHUNK"):
            IV.CHUNK = chunk
        segs = coverage_depth(a)
        r = {
            "merge": rows(IV.merge_intervals_table(a)),
            "intersect": rows(IV.intersect_intervals(a, b)),
            "subtract": rows(IV.subtract_intervals(a, b)),
            "complement": rows(IV.complement_intervals(a, refs)),
            "jaccard": rows(IV.jaccard_intervals(a, b)),
            "summary": rows(IV.interval_algebra_summary(a, b, refs)),
            "coverage_depth": rows(segs, 4),  # (contig, pos, next_pos, depth)
            "callable_loci 2..3": rows(callable_loci(segs, min_depth=2, max_depth=3)),
        }
        for md in (0, 1, 2, 4):
            r[f"callable_loci {md}"] = rows(callable_loci(segs, min_depth=md))
        res[chunk] = r
        print(chunk, {k: len(v) for k, v in r.items()}, flush=True)
    with open(out, "wb") as f:
        pickle.dump(res, f)


def compare(a_pkl: str, b_pkl: str) -> None:
    with open(a_pkl, "rb") as f:
        a = next(iter(pickle.load(f).values()))
    with open(b_pkl, "rb") as f:
        b = pickle.load(f)
    for chunk, r in b.items():
        diff = [k for k in r if r[k] != a[k]]
        print(chunk, diff or "all row multisets identical")


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        dump(sys.argv[1], sys.argv[2], [int(x) for x in sys.argv[3].split(",")])
