"""Count how many times each depth / interval operator decodes its input,
and dump the Window lines of its executed physical plan.

Imports the library from the checkout given as REPO, so the same script
probes two revisions:

    python decode_probe.py REPO OUT_FILE

The input is 2,000 random (contig, start, end) reads on two contigs over
4 Mb (seed 6), served through a ``mapInPandas`` source that adds each
batch's row count to an accumulator: "decodes" is that count over the
input rows after one ``collect()``. A second table (every third read)
is the ``b`` side of the two-input operators. Window lines come from the
final adaptive plan, with expression ids stripped so two revisions diff
cleanly; a line whose partition spec is ``[contig]`` alone and whose
order is ``[pos ...]`` runs over a whole contig.
"""

from __future__ import annotations

import os
import random
import re
import sys


def main() -> None:
    repo, out_file = os.path.abspath(sys.argv[1]), sys.argv[2]
    sys.path.insert(0, repo)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from disq_spark.operators import intervals as IV
    from disq_spark.operators.genomics import callable_loci, coverage_depth
    from disq_spark.session import get_session

    spark = get_session("decode_probe", shuffle_partitions=8)
    sc = spark.sparkContext
    rng = random.Random(6)
    rows = []
    for _ in range(2000):
        s = rng.randrange(1, 4 << 20)
        rows.append((rng.choice(["c1", "c2"]), s, s + rng.randrange(0, 5000)))
    schema = "contig string, start long, end long"
    other = spark.createDataFrame(rows[::3], schema)
    refs = [("c1", 5 << 20), ("c2", 5 << 20)]
    ops = {
        "coverage_depth": coverage_depth,
        "callable_loci": lambda d: callable_loci(coverage_depth(d), min_depth=2),
        "merge_intervals_table": IV.merge_intervals_table,
        "intersect_intervals": lambda d: IV.intersect_intervals(d, other),
        "subtract_intervals": lambda d: IV.subtract_intervals(d, other),
        "complement_intervals": lambda d: IV.complement_intervals(d, refs),
        "jaccard_intervals": lambda d: IV.jaccard_intervals(d, other),
        "interval_algebra_summary": lambda d: IV.interval_algebra_summary(d, other, refs),
    }
    contig_only = re.compile(r"\], \[contig\], \[pos ASC")
    lines = []
    for name, op in ops.items():
        decoded = sc.accumulator(0)

        def count(batches, decoded=decoded):
            for pdf in batches:
                decoded.add(len(pdf))
                yield pdf

        out = op(spark.createDataFrame(rows, schema).mapInPandas(count, schema))
        n_out = len(out.collect())
        plan = sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "simple")
        final = plan.split("== Initial Plan ==")[0]
        windows = [
            re.sub(r"#\d+L?", "", ln.strip().lstrip(":+- "))
            for ln in final.splitlines()
            if "Window [" in ln
        ]
        n_contig = sum(bool(contig_only.search(w)) for w in windows)
        lines.append(
            f"{name}: decodes {decoded.value / len(rows):.1f}x, "
            f"{n_contig} contig-only Window(s) ordered by pos, {n_out} output rows"
        )
        lines.extend(f"    {w}" for w in windows)
    with open(out_file, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(ln for ln in lines if not ln.startswith(" ")))


if __name__ == "__main__":
    main()
