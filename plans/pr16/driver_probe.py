"""Driver-side costs the change removes, on one checkout.

    python plans/pr16/driver_probe.py REPO

Run with REPO as the working directory. Prints one JSON line per probe:

- ``contig_rank_cold``/``_warm``: seconds and py4j calls to build
  ``coordinate_sort``'s generic-path plan (``repartitionByRange`` on the
  contig rank) for a header with 3,366 @SQ lines (GRCh38-sized), first
  in a fresh session and then again, and whether the sorted contigs
  follow the sequence dictionary;
- ``intervals_<k>``: building and counting ``read_bam`` over the
  ``write_roundtrip`` BAM (re-written coordinate-sorted) with k disjoint
  intervals, k = 100 and 1,000: build seconds, py4j calls, count (or the
  error the read raised) and the brute-force count it must equal.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    sys.path.insert(0, repo)
    import numpy as np
    from py4j import clientserver
    from perfbench import gen

    from disq_spark import Interval, read_bam
    from disq_spark.headers import SamHeader
    from disq_spark.operators.genomics import coordinate_sort
    from disq_spark.session import get_session

    calls = [0]
    send = clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    clientserver.ClientServerConnection.send_command = counted
    spark = get_session("driver_probe", shuffle_partitions=8)

    names = [f"chrUn_{i}" for i in range(3366)]
    header = SamHeader(text="@HD\tVN:1.6\tSO:coordinate\n"
                       + "".join(f"@SQ\tSN:{c}\tLN:1000\n" for c in names))
    df = spark.createDataFrame([(c, 1) for c in names[::-1]] + [(None, 1)], "contig string, start long")
    df = df.select(*df.columns)
    for attempt in ("cold", "warm"):
        calls[0] = 0
        t0 = time.perf_counter()
        out = coordinate_sort(df, header, 4)
        built, n_calls = time.perf_counter() - t0, calls[0]
        got = [r.contig for r in out.collect()]
        print(json.dumps({"probe": f"contig_rank_{attempt}", "build_s": round(built, 4),
                          "py4j_calls": n_calls, "order_ok": got == names + [None]}), flush=True)

    work = tempfile.mkdtemp(prefix="driver_probe_")
    cols = gen.make_reads(7, 4000)
    bam = os.path.join(work, "sorted.bam")
    gen.write_bam_file(bam, cols, "coordinate")
    rng = np.random.default_rng(7)
    for k in (100, 1000):
        starts = np.sort(rng.choice(2_400_000, size=k, replace=False)) + 1
        ivs = [Interval("chr1", int(s), int(s) + 200) for s in starts]
        want = gen.region_counts(cols, [[(iv.contig, iv.start, iv.end) for iv in ivs]])[0]
        calls[0] = 0
        t0 = time.perf_counter()
        try:
            q, _ = read_bam(spark, bam, split_size=80 * 1024, intervals=ivs)
            built, n_calls = time.perf_counter() - t0, calls[0]
            got = q.count()
        except Exception as e:  # noqa: BLE001 - the probe records what the read raised
            built, n_calls = time.perf_counter() - t0, calls[0]
            got = f"error:{type(e).__name__}:{str(e).splitlines()[0][:120]}"
        print(json.dumps({"probe": f"intervals_{k}", "build_s": round(built, 4),
                          "py4j_calls": n_calls, "count": got, "brute_force": want}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
