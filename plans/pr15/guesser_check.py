"""``check_record_guesser`` disagreements on the generated BAMs.

Usage: python plans/pr15/guesser_check.py REPO WORKDIR

Runs on the BAMs ``plan_probe.py`` leaves in WORKDIR (the index-less
``reads7.bam`` and the zeroed-bin ``zeroed3.bam``) at a 1 MiB split and
prints one TSV row per file: the FALSE_NEGATIVE and FALSE_POSITIVE
counts (both 0 when the guesser's chain rule is exact on the file).
"""

from __future__ import annotations

import os
import sys


def main(repo: str, work: str) -> None:
    sys.path.insert(0, repo)
    from disq_spark.session import get_session
    from disq_spark.sources.bam_source import check_record_guesser

    spark = get_session("guesser_check", shuffle_partitions=4)
    print("file\tFALSE_NEGATIVE\tFALSE_POSITIVE")
    for name in ("reads7.bam", "zeroed3.bam"):
        bad = check_record_guesser(spark, os.path.join(work, name), split_size=1 << 20)
        kinds = {r.kind: r.n for r in bad.groupBy("kind").count().withColumnRenamed("count", "n").collect()}
        print(f"{name}\t{kinds.get('FALSE_NEGATIVE', 0)}\t{kinds.get('FALSE_POSITIVE', 0)}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
