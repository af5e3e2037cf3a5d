"""Streaming tier under the Zipf corpus (r9 verdict #6).

The streaming near-dup and sketch gates have only ever seen
replica-structured data, where banding-bucket populations and token
frequencies are bounded by construction. This probe drives the two
hot-key-sensitive streaming operators over a zipf-derived stream — the
distribution where hot keys actually exist:

- ``streaming_minhash_pairs`` (uncapped, the only mode a stream can
  run: df is a corpus-global statistic) across multi-file micro-batches,
  checked for PAIR-SET PARITY with the batch operator and profiled for
  the state axes that matter at ingest scale: band-bucket population
  distribution (state per bucket is its members' signatures) and
  whether any bucket crosses the ``max_bucket`` admission guard.
- ``streaming_countmin`` over the exploded token stream (the canonical
  count-min workload: heavy hitters under a Zipf law), checked for the
  sketch contract — bounded state (depth*width cells regardless of
  stream volume) and over-count-only error, with the observed relative
  error of the top-20 heavy hitters and of a rare-token sample
  recorded (CM error concentrates on the TAIL: hot keys dominate their
  cells, rare keys inherit hot collisions).

Emits one JSON line; recorded in SCALE.md §r10.

Usage: python tools/streaming_zipf_probe.py [--sf scaledata/zipf1]
           [--chunks 8] [--cm-width 256] [--max-docs N]
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
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--cm-width", type=int, default=256)
    ap.add_argument("--cm-depth", type=int, default=4)
    ap.add_argument("--max-docs", type=int, default=None,
                    help="optional doc_id bound (stream-side state is "
                    "python-held signatures; 50k docs ~ fine)")
    args = ap.parse_args()

    import tempfile

    from disq_spark.operators import dedup as DD
    from disq_spark.operators.sketches import countmin_lookup
    from disq_spark.queries.llm import MINHASH_THRESHOLD, SHINGLE_K, SHINGLE_STRIDE
    from disq_spark.streaming.neardup import streaming_minhash_pairs
    from disq_spark.streaming.sketches import streaming_countmin

    spark = get_session("streaming_zipf_probe")
    docs = spark.read.parquet(f"{args.sf}/documents.parquet").select(
        "doc_id", "text"
    )
    if args.max_docs:
        docs = docs.filter(F.col("doc_id") < args.max_docs)
    n_docs = docs.count()
    out: dict = {"metric": "streaming_zipf_probe", "sf": args.sf,
                 "n_docs": n_docs, "chunks": args.chunks}

    src = tempfile.mkdtemp(prefix="zipf_stream_")
    for i in range(args.chunks):
        docs.filter(F.col("doc_id") % args.chunks == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # -- streaming minhash near-dup: parity + bucket-state profile ---------
    mh = dict(num_hashes=DD.DEFAULT_NUM_HASHES, bands=DD.DEFAULT_BANDS,
              threshold=MINHASH_THRESHOLD, k=SHINGLE_K, stride=SHINGLE_STRIDE)
    t0 = time.time()
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_minhash_pairs(stream, **mh)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zipf_neardup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    got = spark.sql(
        "SELECT DISTINCT id_a, id_b FROM zipf_neardup"
    ).persist()
    n_stream = got.count()
    out["stream_minhash_s"] = round(time.time() - t0, 2)
    out["stream_pairs"] = n_stream

    t0 = time.time()
    want = DD.minhash_lsh_pairs(docs, "text", "doc_id", max_df=None, **mh).select(
        "id_a", "id_b"
    ).persist()
    n_batch = want.count()
    out["batch_minhash_s"] = round(time.time() - t0, 2)
    out["batch_pairs"] = n_batch
    out["pairs_missing_vs_batch"] = want.join(got, ["id_a", "id_b"],
                                              "left_anti").count()
    out["pairs_extra_vs_batch"] = got.join(want, ["id_a", "id_b"],
                                           "left_anti").count()
    out["pair_set_equal"] = (
        out["pairs_missing_vs_batch"] == 0 and out["pairs_extra_vs_batch"] == 0
    )
    got.unpersist()
    want.unpersist()
    DD.release_caches(blocking=False)

    # band-bucket population profile == per-bucket state size (ids +
    # signatures). Computed batch-side with the operator's own banding.
    sig = DD.minhash_signatures(
        docs, "text", "doc_id", DD.DEFAULT_NUM_HASHES, SHINGLE_K,
        SHINGLE_STRIDE, None,
    )
    rpb = DD.DEFAULT_NUM_HASHES // DD.DEFAULT_BANDS
    band_key = F.array(
        *[
            F.md5(F.concat_ws("|", *[
                F.col(f"mh_{b * rpb + i}").cast("string") for i in range(rpb)
            ]))
            for b in range(DD.DEFAULT_BANDS)
        ]
    )
    buckets = (
        sig.select(F.posexplode(band_key).alias("band", "key"))
        .groupBy("band", "key")
        .agg(F.count("*").alias("pop"))
    )
    prof = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max("pop").alias("max_pop"),
        F.expr("percentile_approx(pop, 0.999)").alias("p999"),
        F.sum(F.when(F.col("pop") > 10_000, 1).otherwise(0)).alias(
            "over_default_max_bucket"
        ),
        F.sum(F.col("pop") * F.col("pop")).alias("sum_pop_sq"),
    ).collect()[0]
    out["bucket_state"] = {
        "n_buckets": int(prof["n_buckets"]),
        "max_pop": int(prof["max_pop"]),
        "p999_pop": int(prof["p999"]),
        "over_default_max_bucket": int(prof["over_default_max_bucket"]),
        # sum(pop^2) ~ total compare work; state rows = sum(pop)
        "sum_pop_sq": int(prof["sum_pop_sq"]),
    }
    DD.release_caches(blocking=False)
    spark.catalog.clearCache()
    print(f"# neardup: equal={out['pair_set_equal']} "
          f"stream={out['stream_minhash_s']}s bucket_max={prof['max_pop']}",
          file=sys.stderr)

    # -- streaming count-min over the token stream --------------------------
    from disq_spark.functions.text import tokens

    tok_batch = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    n_stream_toks = tok_batch.count()
    toksrc = tempfile.mkdtemp(prefix="zipf_tokstream_")
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).select(
            F.explode(tokens(F.col("text"))).alias("tok")
        ).coalesce(4).write.mode("append").parquet(toksrc)

    t0 = time.time()
    tstream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 4)
        .parquet(toksrc)
    )
    cmq = (
        streaming_countmin(tstream, "tok", depth=args.cm_depth,
                           width=args.cm_width)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("zipf_cm")
        .trigger(availableNow=True)
        .start()
    )
    cmq.awaitTermination(3600)
    cm = spark.sql("SELECT * FROM zipf_cm")
    n_cells = cm.count()
    out["countmin"] = {
        "depth": args.cm_depth, "width": args.cm_width,
        "stream_tokens": int(n_stream_toks),
        "cells": int(n_cells),
        "state_bounded": n_cells <= args.cm_depth * args.cm_width,
        "wall_s": round(time.time() - t0, 2),
    }

    # heavy hitters: top-20 true counts vs CM estimates (over-count only)
    truth = tok_batch.groupBy("tok").agg(F.count("*").alias("n"))
    top = truth.orderBy(F.desc("n"), "tok").limit(20)
    est = countmin_lookup(cm, top, "tok", args.cm_depth, args.cm_width)
    rows = est.join(top, "tok").select("tok", "n", "cm_est").collect()
    rel = [(int(r.cm_est) - int(r.n)) / int(r.n) for r in rows]
    under = [r for r in rows if int(r.cm_est) < int(r.n)]
    out["countmin"]["top20_rel_err_max"] = round(max(rel), 6)
    out["countmin"]["top20_rel_err_mean"] = round(sum(rel) / len(rel), 6)
    out["countmin"]["undercount_violations"] = len(under)
    # tail sample: 20 rare tokens (true count <= 5) — CM error is an
    # ADDITIVE eps*N bound, so relative error concentrates here
    rare = truth.filter(F.col("n") <= 5).orderBy("tok").limit(20)
    rest = countmin_lookup(cm, rare, "tok", args.cm_depth, args.cm_width)
    rrows = rest.join(rare, "tok").select("n", "cm_est").collect()
    if rrows:
        radd = [int(r.cm_est) - int(r.n) for r in rrows]
        out["countmin"]["rare20_add_err_max"] = int(max(radd))
        out["countmin"]["rare20_add_err_mean"] = round(
            sum(radd) / len(radd), 1
        )
        out["countmin"]["eps_n_bound"] = round(
            2.718 / args.cm_width * n_stream_toks, 1
        )
    print(f"# countmin: {out['countmin']}", file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
