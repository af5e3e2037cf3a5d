"""Physical-plan assertions: the 100 TB design point is only real if
Catalyst actually picks the plans the operators were designed around.
These tests never execute the queries — they read .explain output at
sf0.001 (plan shape is data-size independent for these properties,
except where AQE needs runtime stats, noted inline).

What is locked down:
- dimension joins broadcast (no shuffle of the small side),
- predicate pushdown + column pruning reach the parquet scans,
- no plan anywhere in the gate registry degenerates to a cartesian
  product / broadcast nested loop join (the classic silent O(n^2)),
- single-shuffle shapes stay single-shuffle (exchange counts).
"""

import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def test_dim_joins_are_broadcast(spark):
    """TPC-H-shaped joins: every dimension side must broadcast; only
    fact-fact joins may shuffle. A shuffled 25-row nation join at sf0.1
    is noise, but at 100 TB it forces a full exchange of the fact table
    keyed on the dim key."""
    from disq_spark.queries.relational import QUERIES

    for name in ("q3_shipping_priority", "q5_local_supplier", "q7_nation_volume"):
        plan = simple_plan_of(QUERIES[name](spark, SF))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
        assert "CartesianProduct" not in plan, name


def test_q1_scan_prunes_columns_and_pushes_filter(spark):
    """q1 projects 7 of 11 lineitem columns and filters on l_shipdate:
    both must reach the parquet scan (ReadSchema / PushedFilters), or at
    scale we read ~40% more bytes than needed and decode rows the
    aggregate immediately drops."""
    from disq_spark.queries.relational import QUERIES

    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), "shipdate filter not pushed to scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "l_comment" not in read_cols  # not in this schema anyway, guard
    assert read_cols <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }, f"scan reads more columns than q1 needs: {read_cols}"


def test_no_query_degenerates_to_cartesian(spark):
    """Gate-wide guard: no registered relational/llm/events query may
    plan a CartesianProduct, and BroadcastNestedLoopJoin is allowed only
    for deliberate scalar-threshold cross joins (1-row build side)."""
    from disq_spark.queries import events, llm, relational, sampling, sketches

    offenders = []
    for mod in (relational, events, llm, sketches, sampling):
        for name, fn in mod.QUERIES.items():
            try:
                plan = simple_plan_of(fn(spark, SF))
            except Exception:
                continue  # runtime-only queries are covered by the gate
            if "CartesianProduct" in plan:
                offenders.append(name)
    assert offenders == [], f"cartesian products in: {offenders}"


def test_exact_dedup_is_single_shuffle(spark):
    """exact_dedup = one hash aggregate: exactly one exchange in the
    plan (partial agg map-side, final agg post-shuffle). A second
    exchange would mean the digest groupBy isn't reusing the shuffle.
    (The gate query adds a global summary agg on top — asserted on the
    raw operator here.)"""
    from disq_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(exact_dedup(docs))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"


def test_partial_aggregation_before_shuffle(spark):
    """q1's aggregate must run map-side partials (HashAggregate appears
    both below and above its Exchange) — at scale this is the difference
    between shuffling 600M rows and shuffling a few hundred."""
    from disq_spark.queries.relational import QUERIES

    plan = simple_plan_of(QUERIES["q1_pricing_summary"](spark, SF))
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_minhash_has_no_bands_union(spark):
    """The LSH band explode must be a single generator, not a bands-way
    union re-reading the signature aggregate once per band."""
    from disq_spark.queries.llm import QUERIES

    plan = simple_plan_of(QUERIES["dedup_minhash_lsh"](spark, SF))
    assert "Union" not in plan, "band keys should come from one posexplode"
    assert "Generate" in plan


def test_verified_pairs_joinbacks_stay_partitioned(spark):
    """dedup_verified's text join-backs must honor the shuffle_hash
    hint: Catalyst's size estimates undercount wide text columns, and an
    unhinted plan would broadcast the corpus-proportional normalized-
    text table (the r9 OOM lesson). Levenshtein itself must stay a
    row-local JVM expression — no Python worker."""
    from disq_spark.queries.llm import QUERIES

    plan = simple_plan_of(QUERIES["dedup_verified"](spark, SF))
    assert plan.count("ShuffledHashJoin") >= 2, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_verified_pairs_dp_runs_wide_above_the_join(spark):
    """The Levenshtein DP must be evaluated exactly ONCE, in a Project
    ABOVE a pair-keyed repartition — not pushed into the text join's
    residual condition, where AQE's byte-based coalescing serializes the
    whole CPU-bound verify stage onto one task (r11: 16.2 s -> 2.5 s at
    sf0.01). The shuffle(array(..)) nondeterminism barrier plus
    _dp_fan_out lock this shape; this test locks the lock."""
    from disq_spark.queries.llm import QUERIES

    df = QUERIES["dedup_verified"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("levenshtein") == 1, plan
    # the DP sits above the fan-out exchange: in the optimized plan the
    # levenshtein Project must appear BEFORE (above) the repartition
    lev_at = plan.find("levenshtein")
    rep_at = plan.find("RepartitionByExpression")
    assert rep_at != -1, plan
    assert lev_at < rep_at, plan
    # and no join condition carries it: joins appear only below
    join_at = plan.find("Join")
    assert join_at == -1 or lev_at < join_at, plan


def test_interval_overlap_filter_is_codegen(spark):
    """The genomic overlap predicate compiles to plain comparisons inside
    WholeStageCodegen — no Python worker in the hot filter path."""
    from pyspark.sql import functions as F

    from disq_spark.functions.intervals import Interval, overlaps

    df = spark.range(1000).select(
        F.lit("chr1").alias("contig"),
        F.col("id").alias("start"),
        (F.col("id") + 100).alias("end"),
    )
    out = df.filter(overlaps([Interval("chr1", 10, 500)]))
    plan = simple_plan_of(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WholeStageCodegen" in plan_of(out) or "*(1)" in plan


def test_max_df_prune_is_broadcast_anti_join(spark):
    """max_df pruning must be partial-agg counts + broadcast LEFT ANTI —
    never a window over the shingle key, which would shuffle the whole
    inverted index and pile every occurrence of a hot (boilerplate)
    shingle onto one reducer."""
    from disq_spark.operators.dedup import shingle_table
    from disq_spark.queries.tables import load

    sh = shingle_table(load(spark, SF, "documents"), max_df=20)
    plan = simple_plan_of(sh)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the count side partial-aggregates before its exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_bloom_prune_is_pre_exchange_filter(spark):
    """The Bloom test must sit in the scan stage (before any Exchange):
    pruned rows never shuffle. Plan order: Scan ... Filter ... Exchange."""
    from pyspark.sql import functions as F

    from disq_spark.operators import sketches as SK

    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bitmap = SK.bloom_bitmap(urgent, "o_orderkey", m_bits=4096, k=3)
    joined = SK.bloom_prune(li, "l_orderkey", bitmap, m_bits=4096, k=3).join(
        urgent.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    plan = simple_plan_of(joined)
    # some Filter node must carry the md5 bit test (scan side, pre-join)
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            break
    else:
        raise AssertionError("no Filter node carries the bloom bit test")


def test_hash_sample_is_scan_time_filter(spark):
    """hash_sample must be a Filter with no Exchange in the whole plan."""
    from disq_spark.operators import sampling as SP

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(SP.hash_sample(d, 0.25, "doc_id"))
    assert "Exchange" not in plan
    assert "Filter" in plan and "md5" in plan


def test_countmin_single_aggregate_shuffle(spark):
    """Count-min build: exactly one exchange (the cell groupBy), with
    map-side partial aggregation."""
    from pyspark.sql import functions as F

    from disq_spark.operators import sketches as SK

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("source").alias("v")
    )
    plan = simple_plan_of(SK.countmin_table(d, "v", depth=4, width=256))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_coverage_bins_single_aggregate_shuffle(spark):
    """Binned coverage: explode + one partial-agg groupBy — one exchange."""
    import os

    from disq_spark.operators.genomics import coverage_bins
    from disq_spark.sources.bam_source import read_bam

    df, _ = read_bam(spark, os.path.join("/root/reference/src/test/resources", "1.bam"))
    plan = simple_plan_of(coverage_bins(df, bin_size=10_000))
    assert plan.count("Exchange") == 1, plan
    assert "Generate explode" in plan or "Generate" in plan


def test_bm25_broadcasts_dimension_sides(spark):
    """BM25: term-df and corpus-stats sides must broadcast (they are k
    rows / 1 row); the only hash exchange keys on (doc_id, ...) term
    occurrences. A shuffled stats join would exchange the corpus."""
    from disq_spark.operators.ranking import bm25
    from disq_spark.queries.tables import load

    d = load(spark, SF, "documents")
    plan = simple_plan_of(bm25(d, ["join", "spark", "window"]))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_is_shuffle_free(spark):
    """k-means assignment must be a pure projection: centroids are plan
    literals folded row-locally, so the returned (id, cid, dist) plan
    has NO key shuffle and NO join of any kind — the only per-iteration
    shuffle is the (cid, pos) centroid-update groupBy, O(k*dim) rows.
    The single permitted exchange is the ONE-TIME input fan-out (a
    low-partition source would otherwise cap every Lloyd round at
    #input-partitions cores); since r11 it hashes by the unique id
    (dispatch.fan_out — hash avoids round-robin's map-side binary sort,
    SPARK-23207) and happens once, not per iteration."""
    from disq_spark.operators.clustering import kmeans
    from disq_spark.queries.tables import load

    e = load(spark, SF, "embeddings")
    plan = simple_plan_of(kmeans(e, k=4, iters=1))
    assert plan.count("hashpartitioning") <= 1  # the one-time fan-out only
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the one-time fan-out only
    assert "Join" not in plan


def test_zorder_single_range_exchange(spark):
    """zorder_cluster: exactly one rangepartitioning exchange (the
    re-layout itself) plus the scalar stats broadcast — nothing else."""
    from disq_spark.operators.zorder import zorder_cluster
    from disq_spark.queries.tables import load

    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    plan = simple_plan_of(zorder_cluster(li, ["l_partkey", "l_suppkey"]))
    assert plan.count("rangepartitioning") == 1
    assert "hashpartitioning" not in plan


def test_percentile_filter_sorts_only_the_sample(spark):
    """percentile_filter: the global window sort must apply to the
    hash-sampled side only — the corpus side joins the 1-row threshold
    via broadcast, never sorts."""
    from disq_spark.operators.sampling import percentile_filter
    from disq_spark.queries.tables import load

    d = load(spark, SF, "documents").select("doc_id", "n_chars")
    plan = simple_plan_of(percentile_filter(d, "n_chars", 0.8, "doc_id"))
    assert "BroadcastNestedLoopJoin" in plan
    # the single-partition sort exists (sample side)…
    assert "SinglePartition" in plan or "Window" in plan
    # …and the md5 sample filter gates it
    assert "md5" in plan


def test_substring_dup_rate_no_distinct_aggregate(spark):
    """The cross-document test is min(id)!=max(id), chosen so a hot
    boilerplate gram combines map-side to two longs. A count(distinct)
    would appear as an expanded two-round aggregate; lock that out, and
    require partial aggregation under the gram exchange."""
    from disq_spark.operators.dedup import substring_dup_rate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(substring_dup_rate(docs))
    assert "distinct" not in plan.lower(), plan
    assert "Expand" not in plan, plan  # distinct-agg rewrite marker
    assert plan.count("HashAggregate") >= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_contamination_no_cartesian_single_gram_join(spark):
    """Benchmark decontamination must stay an equi-join bucketed by gram
    (one hash exchange per side + the aggregates), never a cartesian/
    broadcast-nested-loop degeneration — at corpus scale an all-pairs
    plan here is instant death."""
    from disq_spark.queries.llm import QUERIES

    plan = simple_plan_of(QUERIES["text_decontamination_ngram"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the gram join itself (hash or broadcast-hash on the gram key)
    assert "Join" in plan


def test_annotate_variants_gene_model_broadcasts(spark):
    """The gene model must reach the variants as a broadcast of the
    per-contig array table — a sort-merge join here would shuffle every
    variant on contig (one key per chromosome: 24-way parallelism at
    best, plus skew on chr1/chr2)."""
    from disq_spark.operators.variant_qc import annotate_variants

    v = spark.createDataFrame(
        [("1", 100, "A")], "contig string, start long, ref string"
    )
    g = spark.createDataFrame(
        [("1", 50, 200, "G1", "+")],
        "contig string, start long, end long, gene string, strand string",
    )
    plan = simple_plan_of(annotate_variants(v, g))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_scoring_join_broadcasts(spark):
    """DSIR scoring: the B-row log-ratio table must broadcast into the
    exploded feature stream — a shuffle join would exchange the entire
    feature explosion (corpus tokens x2) on bucket id."""
    from disq_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    out = dsir_weights(docs, docs.limit(1), buckets=16)
    plan = simple_plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_importance_resample_is_takeordered(spark):
    """Gumbel top-k must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global Sort+Limit exchange."""
    from disq_spark.operators.sampling import importance_resample

    from pyspark.sql import functions as F

    scored = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(0.0).alias("logweight")
    )
    plan = simple_plan_of(importance_resample(scored, 5))
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"\bSort\b.*\n.*GlobalLimit", plan) is None


def test_blocklist_filter_is_broadcast_anti_join(spark):
    """URL blocklist filtering must broadcast the (data-sized) blocklist
    and never shuffle the corpus: at 100 TB a shuffled anti-join keyed
    on host would exchange every page."""
    from pyspark.sql import functions as F

    from disq_spark.functions.url import filter_blocked_hosts

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("https://h"), (F.col("doc_id") % 9).cast("string"), F.lit(".x.com/p")).alias("url"),
    )
    plan = simple_plan_of(filter_blocked_hosts(d, "url", ["h3.x.com"]))
    assert "Broadcast" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_paragraph_dedup_hot_list_broadcasts(spark):
    """remove_duplicate_paragraphs: the hot-paragraph list (boilerplate,
    small by construction) must broadcast into the anti-flag join; the
    corpus side must not shuffle on the skewed paragraph hash."""
    from disq_spark.operators.dedup import remove_duplicate_paragraphs

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = simple_plan_of(remove_duplicate_paragraphs(d))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_store_join_keeps_store_exchange_free(spark, tmp_path):
    """The persisted-store band join: the bucketed store side must join
    WITHOUT an Exchange of its own (bucket spec matched at plan time) —
    that is the point of writing the store bucketed by band_key."""
    from disq_spark.operators.dedup import (
        build_minhash_store,
        incremental_minhash_pairs_stored,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    store = "disq_plan_test_store"
    build_minhash_store(d.filter("doc_id < 50"), store, num_hashes=8, bands=4)
    pairs = incremental_minhash_pairs_stored(
        d.filter("doc_id >= 50"), store, num_hashes=8, bands=4
    )
    plan = plan_of(pairs)
    # find the scan of the bands table and assert no Exchange directly
    # feeds FROM it into its join (the batch side may exchange freely)
    assert f"{store}_bands" in plan
    import re as _re

    # bucketed scans print 'Bucketed: true' in the formatted plan
    assert _re.search(r"Bucketed: true", plan), "store scan not bucket-aware"
    for t in (f"{store}_sigs", f"{store}_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_removal_partial_aggs_no_cartesian(spark):
    """remove_duplicate_spans: the gram dup-flag groupBy must run
    map-side partials (min/max combine to two values per gram before the
    shuffle — the boilerplate-gram protection), and nothing in the
    rewrite chain may degenerate to a cartesian."""
    from disq_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(remove_duplicate_spans(docs, n=5, min_span=20))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_collocations_pmi_partial_aggs_no_cartesian(spark):
    """collocations_pmi: pair/head/tail counts are partial-agg groupBys;
    the only nested-loop join allowed is the 1-row broadcast of N."""
    from disq_spark.operators.lm import collocations_pmi

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(collocations_pmi(docs))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_corpus_kl_grid_no_cartesian(spark):
    """corpus_kl_divergence: the vocab x groups grid is built against
    BROADCAST group totals/scalars (both bounded small), never a
    shuffled cartesian."""
    from disq_spark.operators.lm import corpus_kl_divergence

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(corpus_kl_divergence(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_minhash_materialization_is_lazy_cache_not_eager_checkpoint(spark):
    """r8 regression lock: the signature/index tables must be persisted
    (InMemoryTableScan in the plan — a LAZY marker), never
    localCheckpoint'ed (an 'Scan ExistingRDD' leaf — which converts the
    subplan to an RDD at DataFrame-BUILD time, the 2.5 s/rebuild warm
    cost SCALE.md r8 profiles). Applies to minhash_lsh_pairs and
    ngram_jaccard_pairs."""
    from disq_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from disq_spark.queries.tables import load

    d = load(spark, SF, "documents")
    # build inside the loop: clearCache() between plans would otherwise
    # wipe a pre-built DataFrame's cache registration
    for mk in (
        lambda: minhash_lsh_pairs(d, num_hashes=16, bands=4),
        lambda: ngram_jaccard_pairs(d, threshold=0.4, prefix_filter=False),
    ):
        plan = simple_plan_of(mk())
        assert "InMemoryTableScan" in plan, plan[:800]
        assert "Scan ExistingRDD" not in plan, plan[:800]
        spark.catalog.clearCache()


def test_ngram_prefix_candidate_rows_are_narrow(spark):
    """r8 regression lock for the prefix path's disk-spill fix: the
    pair-distinct (HashAggregate keyed on id_a, id_b) must NOT carry
    the token arrays — arrays join back after the distinct. A 'toks'
    column inside the distinct's aggregate expressions is the spill
    bug reintroduced."""
    from disq_spark.operators.dedup import ngram_jaccard_pairs
    from disq_spark.queries.tables import load

    d = load(spark, SF, "documents")
    plan = plan_of(ngram_jaccard_pairs(d, threshold=0.4, prefix_filter=True))
    # locate the pair-dedup aggregates (formatted mode: 'Keys [2]:
    # [id_a..., id_b...]' with an 'Input [...]' line two lines above)
    lines = plan.splitlines()
    hits = 0
    for i, ln in enumerate(lines):
        if re.search(r"Keys \[2\]: \[id_a", ln):
            hits += 1
            blk = "\n".join(lines[max(i - 2, 0) : i + 4])
            assert "toks" not in blk, blk
    assert hits >= 1, plan[:800]
    spark.catalog.clearCache()


def test_pq_encode_is_exchange_free_and_topk_broadcasts(spark):
    """PQ plan shape (operators/pq.py): encoding is a PURE PROJECTION —
    the per-block argmin folds over centroid literals, so the plan has
    zero exchanges and pipelines onto the scan. ADC top-k's lookup-table
    joins must broadcast (the LUT is Q*m*k rows); only the final
    per-(query, id) aggregation and its window may shuffle. No
    cartesian/BNLJ anywhere."""
    from disq_spark.operators.pq import pq_encode, pq_topk, train_pq
    from disq_spark.queries.tables import load

    e = load(spark, SF, "embeddings")
    cb = train_pq(e, m=4, k=4, iters=1)
    enc_plan = plan_of(pq_encode(e, cb, m=4, method="sql"))
    assert "Exchange" not in enc_plan, enc_plan[:800]
    # the blas kernel is a single mapInPandas over the scan — one
    # corpus pass, no joins/aggregates (its only exchange is the
    # low-partition-source repartition, absent on real multi-file data)
    blas_plan = plan_of(pq_encode(e, cb, m=4, method="blas"))
    assert "MapInPandas" in blas_plan, blas_plan[:800]
    assert "Join" not in blas_plan and "Aggregate" not in blas_plan

    queries = [(0, [0.0] * 64), (1, [1.0] * 64)]
    topk_plan = plan_of(pq_topk(e, cb, queries, topk=3, m=4))
    assert "BroadcastHashJoin" in topk_plan, topk_plan[:800]
    assert "CartesianProduct" not in topk_plan
    assert "BroadcastNestedLoopJoin" not in topk_plan
    assert "SortMergeJoin" not in topk_plan, topk_plan[:800]


def test_chunk_token_windows_is_exchange_free(spark):
    """Chunking is one posexplode over a per-row window sequence — a
    pure projection that pipelines onto the scan. An Exchange here
    means someone re-introduced a join/shuffle into a per-row op."""
    from disq_spark.operators.sampling import chunk_token_windows
    from disq_spark.queries.tables import load

    d = load(spark, SF, "documents")
    plan = plan_of(chunk_token_windows(d, max_tokens=48, overlap=8))
    assert "Exchange" not in plan, plan[:800]


def test_ivf_pq_single_corpus_scan_and_broadcasts(spark):
    """IVF-PQ plan: cell id + PQ codes are ONE row-local projection of
    the corpus scan (a corpus-corpus join here would be the classic
    mistake); the probe and candidate joins broadcast; no cartesian/
    SMJ. Exactly one scan of the embeddings parquet."""
    from disq_spark.operators.pq import ivf_pq_topk, train_pq
    from disq_spark.queries.tables import load

    e = load(spark, SF, "embeddings")
    cb = train_pq(e, m=4, k=4, iters=1)
    coarse = train_pq(e, m=1, k=4, iters=1)
    queries = [(0, [0.0] * 64), (1, [1.0] * 64)]
    plan = plan_of(ivf_pq_topk(e, cb, coarse, queries, nprobe=2, topk=3, m=4))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:800]
    assert "BroadcastHashJoin" in plan
    # the probe's query x coarse-centroid crossJoin legitimately plans
    # as a BroadcastNestedLoopJoin — both sides are driver-created
    # literal relations of Q and K rows; the corpus must never appear
    # in one. Corpus containment is covered by the single-scan check:
    scan_locs = [
        ln for ln in plan.splitlines()
        if "Location" in ln and "embeddings" in ln
    ]
    assert len(scan_locs) == 1, (scan_locs, plan[:800])


def test_pq_stored_codes_search_never_scans_embeddings(spark):
    """The stored-codes serving shape (r10 gates ann_pq_stored_topk /
    ann_ivf_pq_stored_topk): a search against a materialized codes
    table must not touch the embedding column at all — at scale the
    float vectors may not even be co-resident with the serving tier.
    Plan check: zero scans of the embeddings parquet in the search
    plan when codes come from an independent source, and no cartesian/
    SMJ (the LUT joins broadcast)."""
    from disq_spark.operators.pq import ivf_pq_topk, pq_topk, train_pq
    from disq_spark.queries.tables import load

    e = load(spark, SF, "embeddings")
    cb = train_pq(e, m=4, k=4, iters=1)
    coarse = train_pq(e, m=1, k=4, iters=1)
    queries = [(0, [0.0] * 64), (1, [1.0] * 64)]
    # codes from an independent literal relation — stands in for the
    # parquet codes table a real deployment would read
    codes = spark.createDataFrame(
        [(i, [i % 4] * 4) for i in range(20)], "vec_id long, codes array<int>"
    )
    plan = plan_of(pq_topk(e, cb, queries, topk=3, m=4, codes_df=codes))
    assert "embeddings" not in plan, plan[:1200]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:800]

    enc = spark.createDataFrame(
        [(i, i % 4, [i % 4] * 4) for i in range(20)],
        "vec_id long, cell int, codes array<int>",
    )
    iplan = plan_of(
        ivf_pq_topk(e, cb, coarse, queries, nprobe=2, topk=3, m=4, encoded_df=enc)
    )
    assert "embeddings" not in iplan, iplan[:1200]
    assert "CartesianProduct" not in iplan
    assert "SortMergeJoin" not in iplan, iplan[:800]


def test_planned_sources_scan_a_range_not_an_existing_rdd(spark, planned_inputs):
    """Split-planned reads build their frame as ``spark.range`` ->
    ``MapInPandas`` (sources/plan.py::plan_frame). A ``Scan ExistingRDD``
    leaf (the marker above) would mean a plan shipped through
    ``sc.parallelize``: a PythonRDD, and a second Python worker per
    decode task just to pickle one plan row into the JVM."""
    import os

    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.fasta import read_fasta_windows
    from disq_spark.sources.fastq import read_fastq
    from disq_spark.sources.variants import read_vcf

    fx = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
    frames = {
        "read_bam": read_bam(spark, planned_inputs["bam"], planned_inputs["bam_split"])[0],
        "read_vcf": read_vcf(spark, planned_inputs["vcf"], planned_inputs["vcf_split"])[0],
        "read_fastq": read_fastq(spark, os.path.join(fx, "sample.fastq"), 16 * 1024),
        "read_fasta_windows": read_fasta_windows(spark, os.path.join(fx, "ref.fa"), 10_000),
    }
    for name, df in frames.items():
        assert df.collect(), name
        plan = plan_of(df)
        assert "MapInPandas" in plan and "Range" in plan, (name, plan[:800])
        assert "Scan ExistingRDD" not in plan, (name, plan[:800])
        assert df.rdd.getNumPartitions() > 1, name


def test_plan_ships_as_numpy_columns():
    """The plan rides in the pickled UDF closure: at 10^6 chunks it must
    cost at most ~24 B per chunk plus the distinct paths (it is 20 B:
    int32 path index + int64 start + int64 end)."""
    from pyspark.serializers import CloudPickleSerializer

    from disq_spark.sources.plan import _plan_runner

    n = 10**6
    paths = [f"/data/cohort/sample{i:03d}.bam" for i in range(8)]
    plan = [(paths[i % 8], i << 27, (i + 1) << 27) for i in range(n)]

    def decode(path, start, end):
        yield from ()

    size = len(CloudPickleSerializer().dumps(_plan_runner(plan, decode)))
    assert size <= 24 * n + sum(len(p) for p in paths) + 64 * 1024, size
