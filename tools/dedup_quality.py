"""Ground-truth quality benchmark for the dedup tier (r9 verdict #1).

The zipf corpus generator plants near-duplicate truth — heavy-tailed
clusters drawn from a template pool with 5% token mutation — and (since
r10) emits it as ``doc_labels.parquet`` (doc_id, template_id; NULL =
unique doc). This tool scores each dedup tier's PAIR OUTPUT against the
planted same-template pairs as precision / recall / F1, capped vs
uncapped, turning two r9 claims into measured numbers:

- "uncapped minhash's extra pairs are almost all boilerplate-only
  matches" -> shows up as a precision drop with ~no recall gain;
- "the max_df cap costs nothing in recall" -> recall_capped vs
  recall_uncapped on the same corpus.

Two notions of truth are reported and must not be conflated:

- **planted** (the default, per-tier): a pair is positive iff both
  docs carry the same non-NULL template_id. This measures the whole
  retrieval chain — shingling, signatures/banding, threshold — against
  editorial truth. A pair of unrelated docs glued together by a shared
  boilerplate banner counts as a FALSE positive even if its literal
  Jaccard clears the threshold (that is the point: boilerplate matches
  are not duplicates a pipeline wants to collapse).
- **exact-jaccard** (``lsh_recall`` block): minhash+banding scored
  against exact shingle-set Jaccard >= the same threshold, i.e. the
  gate `dedup_lsh_recall`'s definition re-run on the hostile corpus
  (r9 verdict #5) where banding collisions are actually stressed —
  this isolates the LSH approximation error from the threshold's
  editorial quality.

Semantic tier: the corpus has no text-derived embeddings, so the tool
builds deterministic hashed bag-of-words vectors (64-dim signed feature
hashing over whitespace tokens, xxhash64 — pure column ops, one
groupBy) and runs semantic_dedup_pairs over them. This measures the
SemDeDup mechanism (cluster -> in-cluster cosine) under a real
text-similarity signal, not the quality of any learned embedding.

Emits one JSON line; recorded in SCALE.md §r10.

Usage: python tools/dedup_quality.py [--sf scaledata/zipf1]
           [--tiers minhash,ngram,simhash,winnowing,semantic]
           [--skip-uncapped] [--skip-lsh-recall]
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

SEM_DIM = 64
SEM_K = 32
SEM_ITERS = 3
SEM_THRESHOLD = 0.85


def hashed_bow_embeddings(docs, dim: int = SEM_DIM):
    """(doc_id, embedding array<double>) — deterministic signed feature
    hashing of whitespace tokens: component j = sum over tokens with
    xxhash64(tok) % dim == j of sign(xxhash64(tok, salt)). Pure column
    ops: one posexplode + one (doc_id, dim) partial-agg + one per-doc
    map build; no UDFs, no driver text processing."""
    from disq_spark.functions.text import tokens

    t = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    comp = t.select(
        "doc_id",
        F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int").alias("d"),
        F.when(F.pmod(F.xxhash64("tok", F.lit(1)), F.lit(2)) == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("s"),
    )
    agg = comp.groupBy("doc_id", "d").agg(F.sum("s").alias("x"))
    vec = (
        agg.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("d", "x"))).alias("m"))
        .select(
            "doc_id",
            # element_at on a MAP is a KEY lookup (no 1-based offset —
            # that's the ARRAY overload): component i <- key i
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at("m", i), F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    return vec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="scaledata/zipf1")
    ap.add_argument(
        "--tiers", default="minhash,ngram,simhash,winnowing,semantic"
    )
    ap.add_argument(
        "--minhash-sweep", default=None,
        help="comma list of H/B minhash designs (e.g. '8/4,16/8,32/16') "
        "scored uncapped as extra tiers — the quality-vs-cost knob: more "
        "hashes tighten the est_jaccard quantization, more bands raise "
        "the LSH collision curve at fixed rows/band",
    )
    ap.add_argument(
        "--verify-ratio", type=float, default=0.25,
        help="levenshtein ratio cut for the verified/editdist tiers",
    )
    ap.add_argument("--skip-uncapped", action="store_true",
                    help="skip every uncapped cell")
    ap.add_argument("--skip-uncapped-winnowing", action="store_true",
                    help="skip only winnowing's uncapped cell (min_shared=2 "
                    "emits ~quadratic pairs on hot boilerplate: 259M pairs "
                    "at 100k docs, SCALE.md §r9 — hostile at >=250k)")
    ap.add_argument("--skip-uncapped-ngram", action="store_true",
                    help="skip only ngram's uncapped cell (past the prefix "
                    "path's measured envelope at >=250k zipf docs: SMJ "
                    "spill exhausts a 63 GB disk — SCALE.md §r10)")
    ap.add_argument(
        "--semantic-k", default="auto",
        help="k for the semantic tier: an int, or 'auto' for the "
        "production scale_k rule (k ~ n_docs / 1536 — the r11 fix for "
        "the fixed-k recall droop, SCALE.md §r10/r11)",
    )
    ap.add_argument("--skip-lsh-recall", action="store_true",
                    help="skip the exact-jaccard ground-truth block (one "
                    "full uncapped exact-Jaccard pass)")
    args = ap.parse_args()
    tiers = set(args.tiers.split(","))

    from disq_spark.operators import dedup as DD
    from disq_spark.queries.llm import (
        JACCARD_THRESHOLD,
        MINHASH_THRESHOLD,
        SHINGLE_K,
        SHINGLE_STRIDE,
        _max_df,
    )

    spark = get_session("dedup_quality")
    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    labels = spark.read.parquet(f"{args.sf}/doc_labels.parquet")
    n_docs = docs.count()
    max_df = _max_df(spark, args.sf)
    from disq_spark.operators.clustering import scale_k

    sem_k = (
        scale_k(n_docs) if args.semantic_k == "auto" else int(args.semantic_k)
    )

    # planted truth pairs: same non-NULL template_id, id_a < id_b.
    # Each pair carries its cluster's size band relative to the gate's
    # max_df: the cap drops shingles with df > max_df, and a planted
    # cluster of size > max_df is EXACTLY where a true dup's shingles
    # cross that df — the band split shows which truth the cap can
    # still see vs which it has structurally blinded itself to.
    lab = labels.filter(F.col("template_id").isNotNull())
    csize = lab.groupBy("template_id").agg(F.count("*").alias("cl_n"))
    lab = lab.join(csize, "template_id")
    truth = (
        lab.select(F.col("doc_id").alias("id_a"), "template_id", "cl_n")
        .join(
            lab.select(F.col("doc_id").alias("id_b"), "template_id"),
            "template_id",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (F.col("cl_n") > F.lit(max_df)).alias("over_cap"),
        )
        .persist()
    )
    n_truth = truth.count()
    n_truth_over = truth.filter("over_cap").count()
    out: dict = {
        "metric": "dedup_quality_planted",
        "sf": args.sf,
        "n_docs": n_docs,
        "max_df_gate": max_df,
        "n_truth_pairs": n_truth,
        "n_truth_pairs_over_cap": n_truth_over,
        "params": {
            "shingle_k": SHINGLE_K, "stride": SHINGLE_STRIDE,
            "minhash_threshold": MINHASH_THRESHOLD,
            "jaccard_threshold": JACCARD_THRESHOLD,
            "sem_dim": SEM_DIM, "sem_k": sem_k, "sem_threshold": SEM_THRESHOLD,
        },
        "tiers": {},
    }

    def score(label: str, build) -> None:
        """Materialize a tier's pairs once; record wall + P/R/F1."""
        DD.release_caches(blocking=False)
        spark.catalog.clearCache()
        t0 = time.time()
        pred = build().select("id_a", "id_b").persist()
        n_pred = pred.count()
        wall = round(time.time() - t0, 2)
        hits = pred.join(truth, ["id_a", "id_b"]).agg(
            F.count("*").alias("tp"),
            F.sum(F.col("over_cap").cast("long")).alias("tp_over"),
        ).collect()[0]
        tp = int(hits["tp"])
        tp_over = int(hits["tp_over"] or 0)
        pred.unpersist()
        p = tp / n_pred if n_pred else 0.0
        r = tp / n_truth if n_truth else 0.0
        f1 = 2 * p * r / (p + r) if (p + r) else 0.0
        out["tiers"][label] = {
            "wall_s": wall, "pairs": n_pred, "tp": tp,
            "precision": round(p, 4), "recall": round(r, 4),
            "f1": round(f1, 4),
            # recall split by cluster size vs the cap (see truth build)
            "recall_over_cap": round(tp_over / n_truth_over, 4)
            if n_truth_over else None,
            "recall_under_cap": round(
                (tp - tp_over) / (n_truth - n_truth_over), 4
            ) if n_truth > n_truth_over else None,
        }
        print(f"# {label}: P={p:.3f} R={r:.3f} F1={f1:.3f} "
              f"({n_pred} pairs, {wall}s)", file=sys.stderr)

    mh = dict(num_hashes=DD.DEFAULT_NUM_HASHES, bands=DD.DEFAULT_BANDS,
              threshold=MINHASH_THRESHOLD, k=SHINGLE_K, stride=SHINGLE_STRIDE)
    ng = dict(threshold=JACCARD_THRESHOLD, k=SHINGLE_K, stride=SHINGLE_STRIDE)

    if "minhash" in tiers:
        score("minhash_capped", lambda: DD.minhash_lsh_pairs(
            docs, "text", "doc_id", max_df=max_df, **mh))
        if not args.skip_uncapped:
            score("minhash_uncapped", lambda: DD.minhash_lsh_pairs(
                docs, "text", "doc_id", max_df=None, **mh))
    if "ngram" in tiers:
        score("ngram_capped", lambda: DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", max_df=max_df, **ng))
        if not (args.skip_uncapped or args.skip_uncapped_ngram):
            # prefix_filter="auto" resolves to the prefix path here
            score("ngram_uncapped", lambda: DD.ngram_jaccard_pairs(
                docs, "text", "doc_id", max_df=None, **ng))
    if "simhash" in tiers:
        score("simhash", lambda: DD.simhash_pairs(
            docs, "text", "doc_id", bits=64, bands=4, max_hamming=3))
    if "winnowing" in tiers:
        score("winnowing_capped", lambda: DD.winnowing_pairs(
            docs, max_df=int(max_df), text_col="text", id_col="doc_id"))
        if not (args.skip_uncapped or args.skip_uncapped_winnowing):
            score("winnowing_uncapped", lambda: DD.winnowing_pairs(
                docs, text_col="text", id_col="doc_id"))
    if args.minhash_sweep:
        for spec in args.minhash_sweep.split(","):
            h, b = (int(x) for x in spec.strip().split("/"))
            kw = dict(mh, num_hashes=h, bands=b)
            score(f"minhash_uncapped_h{h}b{b}",
                  lambda kw=kw: DD.minhash_lsh_pairs(
                      docs, "text", "doc_id", max_df=None, **kw))
    if "winnowing_verified" in tiers:
        # the intended composition: winnowing proposes (substring-witness
        # candidates, P<=0.08 raw — see SCALE.md r10), an exact string
        # metric disposes. Same normalize both sides as the operators.
        from disq_spark.functions.text import normalize

        def _winnow_verify():
            cand = DD.winnowing_pairs(
                docs, max_df=int(max_df), text_col="text", id_col="doc_id"
            ).select("id_a", "id_b")
            norm = docs.select(
                F.col("doc_id"), normalize(F.col("text")).alias("__nt")
            )
            a = norm.select(F.col("doc_id").alias("id_a"), F.col("__nt").alias("t_a"))
            b = norm.select(F.col("doc_id").alias("id_b"), F.col("__nt").alias("t_b"))
            r = F.col("lev") / F.greatest(F.length("t_a"), F.length("t_b"))
            return (
                cand.join(a.hint("shuffle_hash"), "id_a")
                .join(b.hint("shuffle_hash"), "id_b")
                .withColumn("lev", F.levenshtein("t_a", "t_b"))
                .filter(r <= args.verify_ratio)
            )

        score("winnowing_verified", _winnow_verify)
    if "editdist" in tiers:
        score("editdist_capped", lambda: DD.edit_distance_pairs(
            docs, "text", "doc_id", max_ratio=args.verify_ratio,
            candidate_threshold=0.1, k=SHINGLE_K, stride=SHINGLE_STRIDE,
            max_df=max_df))
    if "semantic" in tiers:
        from disq_spark.operators.similarity import semantic_dedup_pairs

        emb = hashed_bow_embeddings(docs).persist()
        emb.count()
        score("semantic", lambda: semantic_dedup_pairs(
            emb, threshold=SEM_THRESHOLD, k=sem_k, iters=SEM_ITERS,
            id_col="doc_id", vec_col="embedding",
        ).select(F.col("id_a"), F.col("id_b")))
        emb.unpersist()

    # -- exact-jaccard ground truth for the LSH chain (r9 verdict #5) ------
    if not args.skip_lsh_recall:
        DD.release_caches(blocking=False)
        spark.catalog.clearCache()
        t0 = time.time()
        exact = DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=MINHASH_THRESHOLD,
            k=SHINGLE_K, stride=SHINGLE_STRIDE, max_df=None,
        ).select("id_a", "id_b").persist()
        n_exact = exact.count()
        approx = DD.minhash_lsh_pairs(
            docs, "text", "doc_id", max_df=None, **mh
        ).select("id_a", "id_b").persist()
        n_approx = approx.count()
        n_hit = approx.join(exact, ["id_a", "id_b"], "left_semi").count()
        out["lsh_recall"] = {
            "threshold": MINHASH_THRESHOLD,
            "n_exact": n_exact, "n_approx": n_approx, "n_hit": n_hit,
            "recall": round(n_hit / n_exact, 4) if n_exact else 0.0,
            "precision": round(n_hit / n_approx, 4) if n_approx else 0.0,
            "wall_s": round(time.time() - t0, 2),
        }
        exact.unpersist()
        approx.unpersist()
        print(f"# lsh_recall(exact-jaccard): {out['lsh_recall']}",
              file=sys.stderr)

    truth.unpersist()
    DD.release_caches(blocking=False)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
