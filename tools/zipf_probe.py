"""Hostile-df load probe for the dedup tier (round 9).

The replica-structured scale corpus bounds every shingle's document
frequency at the replica count, so the skew machinery — ``max_df``
capping, PPJoin prefix filtering, banded candidate joins — never met
its design load there (SCALE.md §r8: the prefix probe measured
NEGATIVE at every factor because the baseline join was already
near-linear). This probe runs the tier on the ZIPF corpus
(``tools/scale_data.py --zipf-docs N``): natural-text-shaped token
draw + hot boilerplate shared across unrelated documents, where
shingle df grows LINEARLY with corpus size — the regime the published
PPJoin/minhash results (and a real crawl) live in.

Measures, on one corpus:
- the shingle-df profile at gate params (max/p999/p99) and the
  candidate-join volume sum(df*(df-1)/2) WITH and WITHOUT the gate's
  max_df cap — the quadratic driver the cap exists to cut;
- walls for minhash_lsh_pairs and ngram_jaccard_pairs, capped vs
  uncapped, and ngram prefix_filter on vs off (the r8 verdict asked
  for the prefix verdict re-measured in its target regime);
- winnowing_pairs wall;
- pair-set equality between the ngram baseline and prefix paths
  (count + md5 over sorted pairs), so the speed comparison is
  between proven-equal outputs.

Emits one JSON line. Results recorded in SCALE.md §r9.

Usage: python tools/zipf_probe.py [--sf scaledata/zipf1]
           [--skip-uncapped-ngram]   # the deliberately-hostile cell
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from disq_spark.session import get_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="scaledata/zipf1")
    ap.add_argument("--skip-uncapped-ngram", action="store_true")
    args = ap.parse_args()

    from disq_spark.operators import dedup as DD
    from disq_spark.queries.llm import (
        JACCARD_THRESHOLD,
        MINHASH_THRESHOLD,
        SHINGLE_K,
        SHINGLE_STRIDE,
        _max_df,
    )

    spark = get_session("zipf_probe")
    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    n_docs = docs.count()
    max_df = _max_df(spark, args.sf)
    out: dict = {"metric": "zipf_dedup_probe", "sf": args.sf, "n_docs": n_docs,
                 "max_df_gate": max_df}

    # -- df profile + candidate volume (the quadratic driver) ---------------
    sh = DD.shingle_table(docs, "text", "doc_id", SHINGLE_K, SHINGLE_STRIDE, None)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    prof = dfreq.agg(
        F.max("df").alias("max"),
        F.expr("percentile_approx(df, 0.999)").alias("p999"),
        F.expr("percentile_approx(df, 0.99)").alias("p99"),
        F.count("*").alias("distinct_shingles"),
        F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("cand_uncapped"),
        F.sum(
            F.when(F.col("df") <= max_df, F.col("df") * (F.col("df") - 1) / 2)
            .otherwise(0)
        ).alias("cand_capped"),
    ).collect()[0]
    out["shingle_df"] = {
        "max": int(prof["max"]), "p999": int(prof["p999"]),
        "p99": int(prof["p99"]), "distinct": int(prof["distinct_shingles"]),
    }
    out["candidate_rows_uncapped"] = int(prof["cand_uncapped"])
    out["candidate_rows_capped"] = int(prof["cand_capped"])
    spark.catalog.clearCache()

    def timed(label: str, build):
        DD.release_caches(blocking=False)
        spark.catalog.clearCache()
        t0 = time.time()
        n = build().count()
        out[label + "_s"] = round(time.time() - t0, 2)
        out[label + "_pairs"] = int(n)
        print(f"# {label}: {n} pairs in {out[label + '_s']}s", file=sys.stderr)

    mh = dict(num_hashes=DD.DEFAULT_NUM_HASHES, bands=DD.DEFAULT_BANDS,
              threshold=MINHASH_THRESHOLD, k=SHINGLE_K, stride=SHINGLE_STRIDE)
    timed("minhash_capped", lambda: DD.minhash_lsh_pairs(
        docs, "text", "doc_id", max_df=max_df, **mh))
    timed("minhash_uncapped", lambda: DD.minhash_lsh_pairs(
        docs, "text", "doc_id", max_df=None, **mh))

    ng = dict(threshold=JACCARD_THRESHOLD, k=SHINGLE_K, stride=SHINGLE_STRIDE)
    # prefix_filter passed EXPLICITLY in every cell: the operator's
    # default is "auto" (prefix on exactly when max_df is None — the
    # policy THIS probe's measurements justify), so the probe must pin
    # both paths to keep measuring them separately.
    timed("ngram_capped", lambda: DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", max_df=max_df, prefix_filter=False, **ng))
    timed("ngram_capped_prefix", lambda: DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", max_df=max_df, prefix_filter=True, **ng))
    if not args.skip_uncapped_ngram:
        timed("ngram_uncapped", lambda: DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", max_df=None, prefix_filter=False, **ng))
        timed("ngram_uncapped_prefix", lambda: DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", max_df=None, prefix_filter=True, **ng))

    timed("winnowing", lambda: DD.winnowing_pairs(
        docs, text_col="text", id_col="doc_id"))
    timed("winnowing_capped", lambda: DD.winnowing_pairs(
        docs, max_df=int(max_df), text_col="text", id_col="doc_id"))

    # -- prefix == baseline on this corpus (hash over sorted pair sets) -----
    def pair_md5(prefix_filter: bool, cap) -> str:
        p = DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", max_df=cap, prefix_filter=prefix_filter, **ng
        ).select(
            F.concat_ws(":", "id_a", "id_b", F.col("jaccard").cast("string"))
            .alias("s")
        )
        row = p.agg(
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list("s")))).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        DD.release_caches(blocking=False)
        spark.catalog.clearCache()
        return f"{row['n']}:{row['h']}"

    out["pairset_capped_base"] = pair_md5(False, max_df)
    out["pairset_capped_prefix"] = pair_md5(True, max_df)
    out["pairset_equal"] = out["pairset_capped_base"] == out["pairset_capped_prefix"]

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
