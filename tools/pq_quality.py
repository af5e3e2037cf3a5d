"""PQ retrieval quality + production-k codegen probe (r9 verdict #2).

Every PQ gate is hash-exact vs its oracle — it computes exactly what it
promises — but that says nothing about whether what it promises is a
GOOD approximation of exact search. This probe measures the standard
ANN metric, recall@k vs exact L2 top-k, on the 100k-vector corpus
(``scaledata/sf5emb``), swept over the PQ design axes:

- ``m`` (subspaces) and ``k`` (centroids/subspace): quantization
  granularity — recall should rise with both; bytes/vector = m codes.
- ``nprobe`` (IVF-PQ): probed coarse cells — recall rises toward the
  flat-PQ value as nprobe -> K (equality at nprobe == K is unit-tested;
  here we chart the curve between).

Ground truth is computed driver-side in numpy (exact GEMM over the
collected corpus): the truth is the ORACLE for the probe, not a
distributed operator under test, and 100k x 64 floats is 25 MB.

Second half — the codegen-width probe: ``pq_encode``'s per-block
argmin is a chained-``when`` over k centroid literals (m * k sqdist
folds per row, built as one giant expression tree). Gates run k=8;
production PQ uses k=256 (one byte/code). The r8 minhash probe ruled
out a width cliff for 128 min-aggs; nobody had probed the PQ argmin at
production k, where both costs grow: Catalyst analysis/codegen of an
O(m*k*sub) expression tree, and possible fallback to interpreted
evaluation when generated methods blow past JIT/Janino limits
(SPARK's hugeMethodLimit machinery). The probe records, per (m, k):
train / encode / search walls, encode rows/s, and whether the encode
plan still contains WholeStageCodegen spans.

Emits one JSON line; recorded in SCALE.md §r10.

Usage: python tools/pq_quality.py [--sf scaledata/sf5emb] [--nq 20]
           [--topk 10] [--skip-codegen-probe]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from disq_spark.session import get_session  # noqa: E402


def exact_topk(vecs: np.ndarray, ids: np.ndarray, q: np.ndarray, topk: int):
    """Exact L2 top-k ids for one query, ties broken by id ascending —
    the same (distance, id) order the operators and oracles use."""
    d = ((vecs - q) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))
    return list(ids[order[:topk]])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="scaledata/sf5emb")
    ap.add_argument("--nq", type=int, default=20)
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--skip-codegen-probe", action="store_true")
    ap.add_argument("--only-blas", action="store_true",
                    help="run only the blas-encode wall block (recall "
                    "sweep / ivf / codegen sections skipped)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from disq_spark.operators.pq import (
        ivf_pq_encode,
        ivf_pq_topk,
        pq_encode,
        pq_topk,
        train_pq,
    )

    spark = get_session("pq_quality")
    emb = spark.read.parquet(f"{args.sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    n, dim = vecs.shape
    out: dict = {"metric": "pq_quality", "sf": args.sf, "n_vectors": int(n),
                 "dim": int(dim), "nq": args.nq, "topk": args.topk,
                 "configs": [], "ivf": [], "codegen_probe": []}

    # queries: the nq lowest-id vectors (the gates' convention)
    qsel = np.argsort(ids)[: args.nq]
    queries = [(int(ids[i]), [float(x) for x in vecs[i]]) for i in qsel]
    truth = {qid: exact_topk(vecs, ids, np.array(qv), args.topk)
             for qid, qv in queries}

    def recall_of(res_rows) -> float:
        got: dict = {}
        for r in res_rows:
            got.setdefault(r.q_id, []).append(r.vec_id)
        recs = [
            len(set(got.get(qid, [])) & set(t)) / len(t)
            for qid, t in truth.items()
        ]
        return float(np.mean(recs))

    def run_cfg(m: int, k: int) -> dict:
        spark.catalog.clearCache()
        t0 = time.time()
        cb = train_pq(emb, m=m, k=k, iters=args.iters)
        t_train = time.time() - t0
        t0 = time.time()
        codes = pq_encode(emb, cb, m=m).persist()
        n_codes = codes.count()
        t_enc = time.time() - t0
        plan = codes._jdf.queryExecution().executedPlan().toString()
        t0 = time.time()
        res = pq_topk(emb, cb, queries, topk=args.topk, m=m,
                      codes_df=codes).collect()
        t_search = time.time() - t0
        rec = recall_of(res)
        codes.unpersist()
        cfg = {
            "m": m, "k": k, "bytes_per_vec": m,
            "train_s": round(t_train, 2), "encode_s": round(t_enc, 2),
            "encode_rows_per_s": int(n_codes / t_enc) if t_enc else None,
            "search_s": round(t_search, 2),
            "recall": round(rec, 4),
            "encode_wholestage_codegen": "WholeStageCodegen" in plan,
        }
        print(f"# pq m={m} k={k}: recall@{args.topk}={rec:.3f} "
              f"train={t_train:.1f}s encode={t_enc:.1f}s "
              f"search={t_search:.1f}s wsc={cfg['encode_wholestage_codegen']}",
              file=sys.stderr)
        return cfg

    # a count() alone would let Catalyst PRUNE the codes column out of
    # the scan (measured: "exec" 0.1 s at any k — the argmin never ran);
    # every wall below materializes through an agg that CONSUMES the
    # codes, immune to expression simplification
    def consume_codes(enc_df) -> int:
        return enc_df.agg(
            F.count("*").alias("n"),
            F.max(F.md5(F.concat_ws(",", F.col("codes").cast("array<string>")))),
        ).collect()[0]["n"]

    if not args.only_blas:
        # recall sweep at gate-ish and production-ish granularities
        for m, k in [(4, 8), (4, 64), (4, 256), (8, 8), (8, 64), (8, 256)]:
            out["configs"].append(run_cfg(m, k))

    if not args.only_blas:
        # IVF-PQ: recall vs nprobe at a fixed mid design point
        m, k, K = 4, 64, 16
        cb = train_pq(emb, m=m, k=k, iters=args.iters)
        coarse = train_pq(emb, m=1, k=K, iters=args.iters)
        enc = ivf_pq_encode(emb, cb, coarse, m=m).persist()
        enc.count()
        for nprobe in (1, 2, 4, 8, 16):
            t0 = time.time()
            res = ivf_pq_topk(emb, cb, coarse, queries, nprobe=nprobe,
                              topk=args.topk, m=m, encoded_df=enc).collect()
            row = {"m": m, "k": k, "K": K, "nprobe": nprobe,
                   "search_s": round(time.time() - t0, 2),
                   "recall": round(recall_of(res), 4)}
            out["ivf"].append(row)
            print(f"# ivf nprobe={nprobe}/{K}: recall={row['recall']:.3f} "
                  f"search={row['search_s']}s", file=sys.stderr)
        enc.unpersist()

    # blas encode kernel (r10): same configs' encode walls through the
    # Arrow mapInPandas path — bit-identical codes (equality-tested), so
    # this is pure serving-cost measurement vs the interpreted sql fold
    out["blas_encode"] = []
    for m, k in [(4, 8), (4, 64), (4, 256), (8, 256)]:
        cb = train_pq(emb, m=m, k=k, iters=args.iters)
        spark.catalog.clearCache()
        t0 = time.time()
        n2 = consume_codes(pq_encode(emb, cb, m=m, method="blas"))
        t_enc = time.time() - t0
        row = {"m": m, "k": k, "encode_s": round(t_enc, 2),
               "encode_rows_per_s": int(n2 / t_enc)}
        out["blas_encode"].append(row)
        print(f"# blas encode m={m} k={k}: {t_enc:.1f}s "
              f"({row['encode_rows_per_s']}/s)", file=sys.stderr)

    # codegen-width probe: encode wall per k at m=4 should be ~linear in
    # k (m*k sqdist folds/row); a superlinear cliff or a vanished
    # WholeStageCodegen span marks the width limit. Training is excluded
    # (its cost is iters * the same argmin — measured above).
    if not (args.skip_codegen_probe or args.only_blas):
        for k in (8, 32, 64, 128, 256):
            cb = train_pq(emb, m=4, k=k, iters=1)
            spark.catalog.clearCache()
            t0 = time.time()
            enc2 = pq_encode(emb, cb, m=4, method="sql")
            plan = enc2._jdf.queryExecution().executedPlan().toString()
            t_plan = time.time() - t0
            t0 = time.time()
            n2 = consume_codes(enc2)
            t_exec = time.time() - t0
            row = {
                "m": 4, "k": k, "plan_s": round(t_plan, 2),
                "exec_s": round(t_exec, 2),
                "ns_per_row_per_centroid": round(
                    t_exec / n2 / (4 * k) * 1e9, 1
                ),
                "wholestage_codegen": "WholeStageCodegen" in plan,
            }
            out["codegen_probe"].append(row)
            print(f"# codegen k={k}: plan={t_plan:.1f}s exec={t_exec:.1f}s "
                  f"{row['ns_per_row_per_centroid']}ns/(row*centroid) "
                  f"wsc={row['wholestage_codegen']}", file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
