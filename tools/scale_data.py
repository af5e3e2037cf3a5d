"""Synthesize a larger scale factor from an existing testdata dir.

The driver ships ``/root/testdata/sf{0.001,0.01,0.1}``; the scaling
ledger (SCALE.md) needs a ~sf1 point to show query wall-time stays
linear one decade past the largest shipped SF.  This tool replicates a
source SF ``factor`` times with per-replica key striding so referential
integrity is preserved (orders in replica *i* reference customers in
replica *i*, lineitem references orders/part/supplier of the same
replica).  ``region``/``nation`` stay fixed, matching TPC-H semantics
where dimension tables do not grow with SF.

Two columns need more than a key shift to keep the *rates* that drive
plan shape constant under replication:

- ``documents.text``: verbatim replication would make every doc an
  exact duplicate of its 9 siblings, collapsing the corpus into giant
  duplicate clusters (quadratic within-cluster pair growth is then a
  *data* artifact, not a plan property).  Each replica instead applies
  a per-replica vowel+consonant permutation via ``translate`` (25
  distinct mappings, so no two replicas coincide) — length (and so
  ``n_chars``) is preserved, intra-replica duplicate structure is
  preserved exactly, and cross-replica shingle overlap drops to ~0 so
  the near-dup rate stays at the source corpus's rate.
- ``embeddings.embedding``: verbatim replication would put 10 exact
  copies of every vector in the index.  Each replica instead applies a
  deterministic per-replica sign-flip pattern (seeded ``numpy`` ±1
  vector), which preserves norms and the intra-replica cosine
  structure while decorrelating replicas.

Timestamps are kept verbatim so window densities per (replicated) user
and date-filter selectivities are unchanged — 10x rows at the same
selectivity, i.e. clean linear scaling of useful work.

``--unique-docs`` switches documents.text from the per-REPLICA
bijection to a per-DOCUMENT one (seeded by the strided doc_id): no two
documents share a letter map, so every duplicate / near-duplicate
relationship — including the source corpus's own intra-corpus dup
clusters — is destroyed. The resulting corpus has ~zero dup pairs at
every factor, which isolates the dedup OPERATORS' cost (shingling,
signatures, banding, candidate join) from the corpus's dup content:
benching the same query on default vs unique corpora at two factors
separates "wall that scales with dup pairs in the data" from "wall
that scales with documents" (SCALE.md §sf5/sf10). Lengths, n_chars,
and token shapes are preserved exactly, like the default mode.

``--zipf-docs N`` replaces documents.parquet with a SYNTHESIZED
natural-text-shaped corpus instead of replicating the source: tokens
drawn from a 30k-word vocabulary under a Zipf(s~1.07) rank law, a
small pool of hot boilerplate sentences injected across unrelated
documents (shingle document frequency then grows LINEARLY with corpus
size — uncapped df, the regime max_df capping and PPJoin prefix
filtering were designed for, which the replica-structured default can
never produce: its shingle df is bounded by the replica count,
SCALE.md §r8), and heavy-tailed near-duplicate clusters (a Zipf draw
over a small template pool, 5% token mutation). All other tables are
copied verbatim from --src so the gate replica's view registration
works unchanged. Deterministic under a fixed seed.

Usage: python tools/scale_data.py [--src DIR] [--out DIR] [--factor N]
           [--unique-docs] [--tables documents,embeddings,...]
           [--zipf-docs N [--zipf-s S] [--zipf-vocab V]
            [--boilerplate-rate R] [--dup-rate R]]
"""

from __future__ import annotations

import argparse
import os

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def text_cycle(i: int) -> tuple[str, str]:
    """Per-replica letter permutation (translate src, dst), identity for
    replica 0, a seeded random 26-letter bijection otherwise.

    Why the FULL alphabet: the original 15-letter rotation family left
    11 letters (plus digits/punctuation/whitespace) fixed, so any
    k-shingle dominated by unpermuted characters stayed byte-identical
    across every replica — its document frequency multiplied by the
    factor, climbed into the max_df cap, and reintroduced quadratic
    candidate pairs in the n-gram dedup operators as a pure DATA
    artifact (measured: dedup_ngram_jaccard 136 s at factor-50 with the
    rotation family). A full per-replica bijection leaves only
    digit/space-only shingles shared, keeping cross-replica shingle df
    at ~the source corpus's rate. Any bijection preserves length and
    intra-replica duplicate structure exactly."""
    if i == 0:
        return (LETTERS, LETTERS)
    import random

    dst = list(LETTERS)
    random.Random(9_000 + i).shuffle(dst)
    return (LETTERS, "".join(dst))


def _zipf_wordform(rank: int) -> str:
    """Deterministic pronounceable wordform for a vocabulary rank:
    alternating consonant-vowel syllables of the rank's base-105 digits
    (21 consonants x 5 vowels). Hot ranks get short words, tail ranks
    longer — the natural-text length/frequency correlation."""
    cons = "bcdfghjklmnpqrstvwxyz"
    vow = "aeiou"
    r = rank
    out = []
    while True:
        out.append(cons[r % 21] + vow[(r // 21) % 5])
        r //= 105
        if r == 0:
            break
        r -= 1
    return "".join(out)


def write_zipf_documents(
    out_dir: str,
    n_docs: int,
    s: float = 1.07,
    vocab: int = 30_000,
    boilerplate_rate: float = 0.35,
    dup_rate: float = 0.15,
    seed: int = 4242,
) -> None:
    """Synthesize documents.parquet with uncapped-df skew (module
    docstring). Three ingredients, each targeting a dedup mechanism:

    - **Zipf token draw** (inverse-CDF over rank probs ~ 1/r^s): the
      top words appear in virtually every document, so word-level and
      char-shingle dfs are heavy-tailed like natural text.
    - **Hot boilerplate**: 25 fixed sentences (cookie-banner analog);
      each doc gets one with prob ``boilerplate_rate``, the CHOICE of
      sentence itself Zipf-weighted — the hottest banner lands in ~10%
      of ALL documents, so its shingles' df grows linearly with corpus
      size. This is the load max_df capping exists for.
    - **Near-dup clusters**: ``dup_rate`` of docs are 5%-token-mutated
      copies of a template drawn Zipf-weighted from a pool of
      n_docs/100 templates — cluster sizes are heavy-tailed, so the
      candidate-join bucket sizes are too (the banding stressor).

    Also writes ``doc_labels.parquet`` (doc_id, template_id) — the
    PLANTED ground truth (r9 verdict #1): template_id = the doc's own
    id for the first n_docs/100 docs (the cluster roots), the drawn
    template's id for mutated copies, NULL for unique docs. Two docs
    are a true near-dup pair iff they share a non-NULL template_id;
    tools/dedup_quality.py scores each dedup tier's pair output as
    precision/recall/F1 against these labels. Label emission consumes
    no RNG draws, so corpora generated before the labels existed are
    byte-identical to regenerated ones (same seed).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    # inverse-CDF table for the Zipf rank law
    probs = 1.0 / np.power(np.arange(1, vocab + 1, dtype=np.float64), s)
    cdf = np.cumsum(probs / probs.sum())
    words = np.array([_zipf_wordform(r) for r in range(vocab)], dtype=object)

    def draw_tokens(n: int) -> "np.ndarray":
        # clip: float rounding can leave cdf[-1] a hair under 1.0, and a
        # uniform draw above it would searchsorted to index == vocab
        return np.minimum(
            np.searchsorted(cdf, rng.random(n), side="right"), vocab - 1
        )

    # boilerplate pool: 25 sentences x 10 tokens, drawn once from the
    # same vocabulary; selection weights ~ 1/rank so banner 0 is hot
    bp_pool = [
        " ".join(words[draw_tokens(10)]) for _ in range(25)
    ]
    bp_w = 1.0 / np.arange(1, 26, dtype=np.float64)
    bp_cdf = np.cumsum(bp_w / bp_w.sum())

    n_templates = max(n_docs // 100, 1)
    tmpl_w = 1.0 / np.arange(1, n_templates + 1, dtype=np.float64)
    tmpl_cdf = np.cumsum(tmpl_w / tmpl_w.sum())

    lens = np.clip(
        rng.lognormal(mean=3.85, sigma=0.4, size=n_docs).astype(int), 10, 220
    )
    texts: list[str] = []
    base_texts: list[str] = []  # template originals, index = template id
    # planted truth: labels[i] = template id (cluster membership), or
    # None for a unique doc; roots are docs 0..n_templates-1 (is_dup
    # requires i >= n_templates, so the pool fills with originals)
    labels: list[int | None] = []
    for i in range(n_docs):
        is_dup = i >= n_templates and rng.random() < dup_rate
        t_id = None
        if is_dup:
            t_id = int(np.searchsorted(tmpl_cdf, rng.random(), side="right"))
            toks = base_texts[t_id].split(" ")
            n_mut = max(1, len(toks) // 20)
            for j in rng.integers(0, len(toks), size=n_mut):
                toks[int(j)] = words[int(draw_tokens(1)[0])]
            body = " ".join(toks)
        else:
            body = " ".join(words[draw_tokens(int(lens[i]))])
        if rng.random() < boilerplate_rate:
            bp = bp_pool[int(np.searchsorted(bp_cdf, rng.random(), side="right"))]
            body = (bp + " " + body) if rng.random() < 0.5 else (body + " " + bp)
        if len(base_texts) < n_templates:
            base_texts.append(body)
            t_id = i  # this doc IS template i (the cluster root)
        texts.append(body)
        labels.append(t_id)

    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(["en"] * n_docs, type=pa.string()),
            "source": pa.array(
                [f"src{i % 20}" for i in range(n_docs)], type=pa.string()
            ),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype=np.int64)
            ),
        }
    )
    pq.write_table(table, f"{out_dir}/documents.parquet")
    print(f"documents (zipf): {n_docs} rows -> {out_dir}/documents.parquet")
    lab = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "template_id": pa.array(labels, type=pa.int64()),
        }
    )
    pq.write_table(lab, f"{out_dir}/doc_labels.parquet")
    n_lab = sum(1 for x in labels if x is not None)
    print(f"doc_labels (planted truth): {n_lab}/{n_docs} labeled -> "
          f"{out_dir}/doc_labels.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1"))
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--unique-docs",
        action="store_true",
        help="per-DOCUMENT letter bijection for documents.text (destroys "
        "all duplicate structure; isolates dedup operator cost from "
        "corpus dup content)",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of tables to generate (default all)",
    )
    ap.add_argument(
        "--zipf-docs",
        type=int,
        default=None,
        help="synthesize documents.parquet: N Zipf-drawn docs with hot "
        "boilerplate (uncapped shingle df) and heavy-tailed near-dup "
        "clusters; all other tables are copied verbatim from --src",
    )
    ap.add_argument("--zipf-s", type=float, default=1.07)
    ap.add_argument("--zipf-vocab", type=int, default=30_000)
    ap.add_argument("--boilerplate-rate", type=float, default=0.35)
    ap.add_argument("--dup-rate", type=float, default=0.15)
    args = ap.parse_args()

    if args.zipf_docs is not None:
        import shutil

        os.makedirs(args.out, exist_ok=True)
        write_zipf_documents(
            args.out,
            args.zipf_docs,
            s=args.zipf_s,
            vocab=args.zipf_vocab,
            boilerplate_rate=args.boilerplate_rate,
            dup_rate=args.dup_rate,
        )
        for name in (
            "region nation customer supplier part orders lineitem events "
            "embeddings"
        ).split():
            shutil.copyfile(
                f"{args.src}/{name}.parquet", f"{args.out}/{name}.parquet"
            )
        print(f"other tables: copied verbatim from {args.src}")
        return 0
    only = set(args.tables.split(",")) if args.tables else None

    def wanted(name: str) -> bool:
        return only is None or name in only

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()
    src = args.src

    def q(sql: str):
        return con.execute(sql)

    def scalar(sql: str):
        return q(sql).fetchone()[0]

    def tbl(name: str) -> str:
        return f"read_parquet('{src}/{name}.parquet')"

    # key strides: one past the max of each key domain in the source
    strides = {
        "custkey": scalar(f"SELECT max(c_custkey)+1 FROM {tbl('customer')}"),
        "suppkey": scalar(f"SELECT max(s_suppkey)+1 FROM {tbl('supplier')}"),
        "partkey": scalar(f"SELECT max(p_partkey)+1 FROM {tbl('part')}"),
        "orderkey": scalar(f"SELECT max(o_orderkey)+1 FROM {tbl('orders')}"),
        "event_id": scalar(f"SELECT max(event_id)+1 FROM {tbl('events')}"),
        "user_id": scalar(f"SELECT max(user_id)+1 FROM {tbl('events')}"),
        "doc_id": scalar(f"SELECT max(doc_id)+1 FROM {tbl('documents')}"),
        "vec_id": scalar(f"SELECT max(vec_id)+1 FROM {tbl('embeddings')}"),
    }

    def write_union(name: str, select_for_replica) -> None:
        if not wanted(name):
            return
        parts = [select_for_replica(i) for i in range(args.factor)]
        union = " UNION ALL ".join(parts)
        out = f"{args.out}/{name}.parquet"
        q(f"COPY ({union}) TO '{out}' (FORMAT PARQUET)")
        n = scalar(f"SELECT count(*) FROM read_parquet('{out}')")
        print(f"{name}: {n} rows -> {out}")

    # fixed dims: copy verbatim
    for name in ("region", "nation") if only is None else ():
        q(
            f"COPY (SELECT * FROM {tbl(name)}) TO "
            f"'{args.out}/{name}.parquet' (FORMAT PARQUET)"
        )
        print(f"{name}: copied verbatim")

    # c_name/s_name are key-derived ('Supplier#%09d'): regenerate them
    # from the strided key. Verbatim copies collide across replicas and
    # make group-by-key vs group-by-name diverge (surfaced as a false
    # q21 engine mismatch at sf1 — a data artifact, not a plan bug).
    write_union(
        "customer",
        lambda i: f"""SELECT c_custkey + {i * strides['custkey']} AS c_custkey,
            'Customer#' || lpad(CAST(c_custkey + {i * strides['custkey']} AS VARCHAR), 9, '0')
              AS c_name,
            c_nationkey, c_acctbal, c_mktsegment FROM {tbl('customer')}""",
    )
    write_union(
        "supplier",
        lambda i: f"""SELECT s_suppkey + {i * strides['suppkey']} AS s_suppkey,
            'Supplier#' || lpad(CAST(s_suppkey + {i * strides['suppkey']} AS VARCHAR), 9, '0')
              AS s_name,
            s_nationkey, s_acctbal FROM {tbl('supplier')}""",
    )
    write_union(
        "part",
        lambda i: f"""SELECT p_partkey + {i * strides['partkey']} AS p_partkey,
            p_name, p_brand, p_type, p_size, p_retailprice FROM {tbl('part')}""",
    )
    write_union(
        "orders",
        lambda i: f"""SELECT o_orderkey + {i * strides['orderkey']} AS o_orderkey,
            o_custkey + {i * strides['custkey']} AS o_custkey,
            o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {tbl('orders')}""",
    )
    write_union(
        "lineitem",
        lambda i: f"""SELECT l_orderkey + {i * strides['orderkey']} AS l_orderkey,
            l_partkey + {i * strides['partkey']} AS l_partkey,
            l_suppkey + {i * strides['suppkey']} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate FROM {tbl('lineitem')}""",
    )
    write_union(
        "events",
        lambda i: f"""SELECT event_id + {i * strides['event_id']} AS event_id,
            ts, user_id + {i * strides['user_id']} AS user_id,
            event_type, value, props FROM {tbl('events')}""",
    )
    if args.unique_docs and wanted("documents"):
        # per-DOCUMENT bijection, python-side: DuckDB translate() can't
        # vary its map per row. Seeded by the strided doc_id so the
        # corpus is deterministic; no two docs (not even the source
        # corpus's exact-dup pairs) share a letter map, so dup pairs ~0
        # at every factor while lengths/shapes are preserved.
        import random

        src_docs = q(
            f"SELECT doc_id, text, lang, source, n_chars FROM {tbl('documents')}"
        ).fetch_arrow_table()
        s_ids = src_docs.column("doc_id").to_pylist()
        s_text = src_docs.column("text").to_pylist()
        s_rest = [src_docs.column(c).to_pylist() for c in ("lang", "source", "n_chars")]
        out_rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
        upper = LETTERS.upper()
        for i in range(args.factor):
            for j, (did, txt) in enumerate(zip(s_ids, s_text)):
                new_id = did + i * strides["doc_id"]
                dst = list(LETTERS)
                random.Random(77_000_000 + new_id).shuffle(dst)
                dst = "".join(dst)
                table_map = str.maketrans(LETTERS + upper, dst + dst.upper())
                out_rows["doc_id"].append(new_id)
                out_rows["text"].append(txt.translate(table_map))
                out_rows["lang"].append(s_rest[0][j])
                out_rows["source"].append(s_rest[1][j])
                out_rows["n_chars"].append(s_rest[2][j])
        doc_table = pa.table(
            {
                "doc_id": pa.array(out_rows["doc_id"], type=pa.int64()),
                "text": pa.array(out_rows["text"], type=pa.string()),
                "lang": pa.array(out_rows["lang"], type=src_docs.schema.field("lang").type),
                "source": pa.array(out_rows["source"], type=src_docs.schema.field("source").type),
                "n_chars": pa.array(out_rows["n_chars"], type=src_docs.schema.field("n_chars").type),
            }
        )
        pq.write_table(doc_table, f"{args.out}/documents.parquet")
        print(f"documents (unique): {doc_table.num_rows} rows -> {args.out}/documents.parquet")
    else:
        write_union(
            "documents",
            lambda i: f"""SELECT doc_id + {i * strides['doc_id']} AS doc_id,
                translate(text, '{text_cycle(i)[0]}', '{text_cycle(i)[1]}') AS text,
                lang, source, n_chars FROM {tbl('documents')}""",
        )

    # embeddings: per-replica deterministic sign-flip via numpy/pyarrow
    if not wanted("embeddings"):
        return 0
    emb = q(f"SELECT vec_id, embedding, label FROM {tbl('embeddings')}").fetch_arrow_table()
    vec_ids = emb.column("vec_id").to_numpy()
    labels = emb.column("label").to_numpy()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    dim = vecs.shape[1]
    out_ids, out_vecs, out_labels = [], [], []
    for i in range(args.factor):
        rng = np.random.default_rng(1234 + i)
        signs = np.where(rng.random(dim) < 0.5, -1.0, 1.0).astype(np.float32)
        if i == 0:
            signs = np.ones(dim, dtype=np.float32)
        out_ids.append(vec_ids + i * strides["vec_id"])
        out_vecs.append(vecs * signs)
        out_labels.append(labels)
    all_ids = np.concatenate(out_ids)
    all_vecs = np.concatenate(out_vecs)
    all_labels = np.concatenate(out_labels)
    table = pa.table(
        {
            "vec_id": pa.array(all_ids, type=pa.int64()),
            "embedding": pa.array(
                [row for row in all_vecs.tolist()], type=pa.list_(pa.float32())
            ),
            "label": pa.array(all_labels, type=pa.int32()),
        }
    )
    pq.write_table(table, f"{args.out}/embeddings.parquet")
    print(f"embeddings: {table.num_rows} rows -> {args.out}/embeddings.parquet")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
