"""Beyond-reference operators: interval join, coordinate sort, markdup,
pair grouping, as-of join, multimodal plumbing, dedup/similarity units."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import bam_inputs, needs_reference
from disq_spark.operators.asof import asof_join
from disq_spark.operators.genomics import (
    coordinate_sort,
    interval_join,
    mark_duplicates,
    pair_reads,
)
from disq_spark.operators.intervals import CHUNK
from disq_spark.operators.multimodal import attach_payload, decode_image, frame_sample
from disq_spark.queries.tables import load
from disq_spark.sources.bam_source import read_bam

SF = "/root/testdata/sf0.001"


def test_interval_join_matches_naive(spark):
    """Binned interval join == naive non-equi join (the differential)."""
    rows_l = [("c1", i * 7 + 1, i * 7 + 30, i) for i in range(200)] + [
        ("c2", i * 11 + 5, i * 11 + 40, 1000 + i) for i in range(100)
    ]
    rows_r = [("c1", j * 50 + 1, j * 50 + 60, j) for j in range(40)] + [
        ("c2", 100, 200, 99)
    ]
    left = spark.createDataFrame(rows_l, "contig string, start long, end long, lid long")
    right = spark.createDataFrame(rows_r, "contig string, start long, end long, rid long")

    got = interval_join(left, right, bin_size=64)
    pairs = sorted((r.lid, r.r_rid) for r in got.select("lid", "r_rid").collect())

    naive = left.alias("a").join(
        right.alias("b"),
        (F.col("a.contig") == F.col("b.contig"))
        & (F.col("a.start") <= F.col("b.end"))
        & (F.col("a.end") >= F.col("b.start")),
    )
    expect = sorted((r["lid"], r["rid"]) for r in naive.select("a.lid", "b.rid").collect())
    assert pairs == expect
    assert len(pairs) > 0


@needs_reference
def test_interval_join_on_bam(spark, fixtures_dir):
    df, _ = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    targets = spark.createDataFrame(
        [("1", 1, 20000), ("1", 30000, 31000)], "contig string, start long, end long"
    )
    joined = interval_join(df.filter(F.col("start").isNotNull()), targets, bin_size=5000)
    brute = df.filter(
        ((F.col("start") <= 20000) & (F.col("end") >= 1))
        | ((F.col("start") <= 31000) & (F.col("end") >= 30000))
    ).filter(F.col("contig") == "1")
    assert joined.select("name", "start").distinct().count() == brute.filter(
        F.col("start").isNotNull()
    ).select("name", "start").distinct().count()


def test_coordinate_sort(spark, gen_reads):
    for src, _n in bam_inputs(gen_reads):
        _check_coordinate_sort(spark, src)


def _check_coordinate_sort(spark, src):
    df, header = read_bam(spark, src)
    # shuffle it out of order first
    shuffled = df.repartition(7)
    sorted_df = coordinate_sort(shuffled, header, num_partitions=4)
    parts = sorted_df.select("contig", "start").rdd.glom().collect()
    flat = [r for p in parts for r in p]
    # starts ascend within each contig, contigs in sequence-dictionary
    # order (1.bam's reads all lie on one contig)
    rank = header.contig_index()
    starts = [(rank[r.contig], r.start) for r in flat if r.start is not None]
    assert starts == sorted(starts)  # global order across partition concat


def test_mark_duplicates(spark):
    rows = [
        ("r1", 0, "c1", 100, 150, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
        ("r2", 0, "c1", 100, 150, 60, "50M", None, None, 0, "A" * 50, "5" * 50, None, None),
        ("r3", 0, "c1", 200, 250, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
        ("r4", 16, "c1", 100, 150, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
    ]
    from disq_spark.schemas import READS_SCHEMA

    df = spark.createDataFrame(rows, READS_SCHEMA)
    out = {r.name: r.flags for r in mark_duplicates(df).collect()}
    assert out["r1"] & 0x400 == 0  # higher qual kept
    assert out["r2"] & 0x400 != 0  # duplicate of r1, lower qual
    assert out["r3"] & 0x400 == 0  # different position
    assert out["r4"] & 0x400 == 0  # reverse strand = different key


def test_mark_duplicates_exempt_rows_never_rank(spark):
    """A secondary alignment (or unmapped read carrying mate coords)
    sharing a primary's position key must not occupy a rank: the sole
    primary at the key stays unflagged, like Picard."""
    from disq_spark.schemas import READS_SCHEMA

    rows = [
        # secondary with TOP score at the same key as the primary
        ("s1", 0x100, "c1", 100, 150, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
        ("p1", 0, "c1", 100, 150, 60, "50M", None, None, 0, "A" * 50, "5" * 50, None, None),
        # unmapped read whose (contig,start) mirror its mate's key
        ("u1", 0x4, "c1", 200, 250, 0, None, None, None, 0, "A" * 50, "I" * 50, None, None),
        ("p2", 0, "c1", 200, 250, 60, "50M", None, None, 0, "A" * 50, "5" * 50, None, None),
    ]
    df = spark.createDataFrame(rows, READS_SCHEMA)
    out = {r.name: r.flags for r in mark_duplicates(df).collect()}
    assert out["p1"] & 0x400 == 0  # alone among rankable rows at its key
    assert out["p2"] & 0x400 == 0
    assert out["s1"] & 0x400 == 0 and out["u1"] & 0x400 == 0  # passed through


def test_mark_duplicates_unclipped_coordinate_key(spark):
    """Picard keys on the UNCLIPPED 5' coordinate: duplicates whose
    alignments differ only by soft/hard clipping must still collide."""
    from disq_spark.schemas import READS_SCHEMA

    rows = [
        # forward originals at unclipped start 100
        ("f1", 0, "c1", 100, 149, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
        # 5 bases soft-clipped off the front: POS moved to 105, but
        # unclipped start is still 105-5=100 -> same key, lower score
        ("f2", 0, "c1", 105, 149, 60, "5S45M", None, None, 0, "A" * 50, "5" * 50, None, None),
        # hard+soft clipped front: 105-(2+3)=100 -> same key again
        ("f3", 0, "c1", 105, 149, 60, "2H3S45M", None, None, 0, "A" * 48, "#" * 48, None, None),
        # reverse-strand originals: unclipped END is the 5' coordinate
        ("r1", 16, "c1", 200, 249, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
        # trailing clip: end 244 + 5 = 249 -> same reverse key
        ("r2", 16, "c1", 200, 244, 60, "45M5S", None, None, 0, "A" * 50, "5" * 50, None, None),
        # same span but FORWARD -> different key (orientation matters)
        ("r3", 0, "c1", 200, 249, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None),
    ]
    df = spark.createDataFrame(rows, READS_SCHEMA)
    out = {r.name: r.flags for r in mark_duplicates(df).collect()}
    assert out["f1"] & 0x400 == 0          # best score survives
    assert out["f2"] & 0x400 != 0          # soft-clipped duplicate caught
    assert out["f3"] & 0x400 != 0          # hard+soft-clipped duplicate caught
    assert out["r1"] & 0x400 == 0
    assert out["r2"] & 0x400 != 0          # trailing-clip reverse duplicate caught
    assert out["r3"] & 0x400 == 0          # strand distinguishes


def test_mark_duplicates_pair_semantics(spark):
    """Templates compete as PAIRS on both ends' keys; every record of a
    losing template is flagged; a single-end template colliding with a
    pair's end is demoted unconditionally (Picard fragment-vs-pair)."""
    from disq_spark.schemas import READS_SCHEMA

    def pair(name, s1, e1, s2, e2, q, c1="50M", c2="50M"):
        # proper pair: read1 forward at s1, read2 reverse at s2
        return [
            (name, 0x1 | 0x40, "c1", s1, e1, 60, c1, "c1", s2, 0, "A" * 50, q * 50, None, None),
            (name, 0x1 | 0x80 | 0x10, "c1", s2, e2, 60, c2, "c1", s1, 0, "A" * 50, q * 50, None, None),
        ]

    rows = (
        pair("t1", 100, 149, 300, 349, "I")           # best pair
        + pair("t2", 100, 149, 300, 349, "5")          # duplicate pair, lower score
        # same left end, DIFFERENT right end -> not a duplicate pair
        + pair("t3", 100, 149, 400, 449, "I")
        # clipped duplicate of t1: read1 5S45M at 105 (unclipped 100),
        # read2 45M5S ending 344 (unclipped 349)
        + pair("t4", 105, 149, 300, 344, "#", c1="5S45M", c2="45M5S")
        # fragment colliding with t1's left end key -> demoted even with top score
        + [("g1", 0, "c1", 100, 149, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None)]
        # fragment at its own key -> survives
        + [("g2", 0, "c1", 500, 549, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, None)]
    )
    df = spark.createDataFrame(rows, READS_SCHEMA)
    out = {}
    for r in mark_duplicates(df).collect():
        out.setdefault(r.name, []).append(r.flags)
    assert all(f & 0x400 == 0 for f in out["t1"])  # winner pair untouched
    assert all(f & 0x400 != 0 for f in out["t2"])  # BOTH records flagged
    assert all(f & 0x400 == 0 for f in out["t3"])  # right end differs
    assert all(f & 0x400 != 0 for f in out["t4"])  # clip-shifted dup pair caught
    assert out["g1"][0] & 0x400 != 0               # fragment demoted by pair
    assert out["g2"][0] & 0x400 == 0


def test_mark_duplicates_library_pooling(spark):
    """Many read groups of ONE library (LB) dedup as a single pool;
    different libraries never collide (Picard's per-library unit)."""
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA

    header = SamHeader(
        text="@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:100000\n"
        "@RG\tID:lane1\tLB:libA\n@RG\tID:lane2\tLB:libA\n@RG\tID:lane3\tLB:libB\n"
    )
    rows = [
        ("a1", 0, "c1", 100, 149, 60, "50M", None, None, 0, "A" * 50, "I" * 50, None, "lane1"),
        # same key, different LANE but same LIBRARY -> duplicate
        ("a2", 0, "c1", 100, 149, 60, "50M", None, None, 0, "A" * 50, "5" * 50, None, "lane2"),
        # same key but different LIBRARY -> no collision
        ("b1", 0, "c1", 100, 149, 60, "50M", None, None, 0, "A" * 50, "#" * 50, None, "lane3"),
    ]
    df = spark.createDataFrame(rows, READS_SCHEMA)
    out = {r.name: r.flags for r in mark_duplicates(df, header=header).collect()}
    assert out["a1"] & 0x400 == 0
    assert out["a2"] & 0x400 != 0  # cross-lane, same-library duplicate caught
    assert out["b1"] & 0x400 == 0  # other library untouched


@needs_reference
def test_mark_duplicates_matches_serial_picard(spark, fixtures_dir):
    """Differential vs an independent serial Picard-style implementation
    over the full 1.bam fixture (20 read groups -> one LB pool). Also
    sanity-checks fidelity against the file's own Picard-marked flags:
    the overwhelming majority of pre-flagged templates must be re-found
    (residue = slice truncation: mates outside the fixture window)."""
    import os
    import re
    from collections import defaultdict

    from disq_spark.operators.genomics import mark_duplicates
    from disq_spark.sources.bam_source import read_bam

    df, header = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    rows = [r.asDict() for r in df.collect()]
    libmap = header.libraries()

    def clips(cg):
        lead = tail = 0
        m = re.match(r"^(\d+)H", cg)
        lead += int(m.group(1)) if m else 0
        m = re.match(r"^(?:\d+H)?(\d+)S", cg)
        lead += int(m.group(1)) if m else 0
        m = re.search(r"(\d+)S(?:\d+H)?$", cg)
        tail += int(m.group(1)) if m else 0
        m = re.search(r"(\d+)H$", cg)
        tail += int(m.group(1)) if m else 0
        return lead, tail

    def score(q):
        if q is None or q == "*":
            return 0
        return sum(v for v in (ord(c) - 33 for c in q) if v >= 15)

    tmpl = defaultdict(list)
    for r in rows:
        if r["flags"] & (0x4 | 0x100 | 0x800):
            continue
        lib = libmap.get(r["read_group"], "Unknown Library")
        lead, tail = clips(r["cigar"])
        s = 1 if r["flags"] & 0x10 else 0
        uc5 = r["end"] + tail if s else r["start"] - lead
        tmpl[(lib, r["name"])].append(((r["contig"], uc5, s), score(r["qual"])))
    pairs, frags = {}, {}
    for k, ends in tmpl.items():
        ekeys = sorted(e for e, _ in ends)
        sc = sum(s for _, s in ends)
        if len(ends) >= 2:
            pairs[k] = (tuple(ekeys), sc)
        else:
            frags[k] = (ekeys[0], sc)
    dup = set()
    bykey = defaultdict(list)
    for (lib, name), (k, sc) in pairs.items():
        bykey[(lib, k)].append((-sc, name))
    for (lib, k), lst in bykey.items():
        lst.sort()
        dup.update((lib, n) for _, n in lst[1:])
    pek = {(lib, e) for (lib, _), (k, _) in pairs.items() for e in k}
    fbykey = defaultdict(list)
    for (lib, name), (e, sc) in frags.items():
        fbykey[(lib, e)].append((-sc, name))
    for (lib, e), lst in fbykey.items():
        lst.sort()
        losers = lst if (lib, e) in pek else lst[1:]
        dup.update((lib, n) for _, n in losers)

    marked = {
        (r["name"], r["flags"] & ~0x400): r["flags"] & 0x400 != 0
        for r in mark_duplicates(df, header=header).collect()
        if not r["flags"] & (0x4 | 0x100 | 0x800)
    }
    mismatches = 0
    pre_templates, refound = set(), set()
    for r in rows:
        if r["flags"] & (0x4 | 0x100 | 0x800):
            continue
        lib = libmap.get(r["read_group"], "Unknown Library")
        want = (lib, r["name"]) in dup or bool(r["flags"] & 0x400)
        got = marked[(r["name"], r["flags"] & ~0x400)]
        if want != got:
            mismatches += 1
        if r["flags"] & 0x400:
            pre_templates.add((lib, r["name"]))
            if (lib, r["name"]) in dup:
                refound.add((lib, r["name"]))
    assert mismatches == 0
    # fidelity vs the file's own Picard marking
    assert len(refound) / len(pre_templates) > 0.97


def test_pair_reads_atomicity(spark, gen_reads):
    for src, _n in bam_inputs(gen_reads):
        _check_pair_reads_atomicity(spark, src)


def _check_pair_reads_atomicity(spark, src):
    df, _ = read_bam(spark, src)
    pairs = pair_reads(df)
    counts = pairs.groupBy("n_reads").count().collect()
    by_n = {r.n_reads: r["count"] for r in counts}
    assert max(by_n) <= 2  # primary alignments only: fragments or pairs
    assert pairs.count() == df.filter(
        (F.col("flags").bitwiseAND(0x100) == 0) & (F.col("flags").bitwiseAND(0x800) == 0)
    ).select("name").distinct().count()


def test_asof_join_matches_gate_formulation(spark):
    """applyInPandas merge_asof == join+window formulation (differential)."""
    from disq_spark.queries.events import asof_join_events

    gate = {
        r.purchase_id: r.view_id for r in asof_join_events(spark, SF).collect()
    }
    e = load(spark, SF, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    got_df = asof_join(p, v, on="ts", by="user_id", right_cols=["view_id"])
    got = {r.purchase_id: r.view_id_right for r in got_df.collect()}
    assert got == gate


def test_multimodal_plumbing(spark):
    d = load(spark, SF, "documents")
    media = attach_payload(d)
    feats = decode_image(media, fake=True)
    rows = feats.orderBy("doc_id").limit(5).collect()
    assert rows and all(len(r.features) == 8 for r in rows)
    assert all(64 <= r.width < 256 for r in rows)
    # determinism: same payload -> same features
    again = decode_image(media, fake=True).orderBy("doc_id").limit(5).collect()
    assert [r.features for r in rows] == [r.features for r in again]
    # non-image payloads without fake=True fail loudly at execution
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        decode_image(media, fake=False).limit(1).collect()
    fs = frame_sample(media, every_n_bytes=100)
    assert fs.count() >= media.count()


def test_multimodal_resize_and_features(spark):
    from disq_spark.operators.multimodal import extract_features, resize_image

    d = load(spark, SF, "documents")
    media = attach_payload(d)
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        resize_image(media, fake=False).limit(1).collect()
    r = resize_image(media, target_w=224, target_h=224, fake=True)
    rows = r.orderBy("doc_id").limit(20).collect()
    assert rows
    for row in rows:
        # aspect-preserving fit: the long edge lands exactly on target
        assert max(row.resized_w, row.resized_h) == 224
        assert len(bytes(row.resized_payload)) == 16
        # ratio preserved within rounding
        assert abs(row.resized_w / row.resized_h - row.width / row.height) < 0.02
    feats = extract_features(media, bins=16).orderBy("doc_id").limit(20).collect()
    for row in feats:
        assert len(row.features) == 16
        assert abs(sum(row.features) - 1.0) < 1e-4  # normalized histogram


def test_salted_join_equals_plain(spark):
    """Salting must not change join semantics (inner + left)."""
    from disq_spark.operators.skew import salted_join

    # skewed fact: 90% of rows share key 1
    left = spark.range(0, 2000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id % 50 AS BIGINT) END AS k", "id AS v"
    )
    right = spark.range(0, 50).selectExpr("id AS k", "id * 100 AS w")
    for how in ("inner", "left"):
        got = salted_join(left, right, "k", n_salts=8, how=how)
        want = left.join(right, "k", how)
        assert sorted(map(tuple, got.select("k", "v", "w").collect())) == sorted(
            map(tuple, want.select("k", "v", "w").collect())
        )


def test_two_phase_agg_equals_plain(spark):
    from pyspark.sql import functions as F

    from disq_spark.operators.skew import two_phase_agg

    df = spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 5 < 4 THEN 'hot' ELSE concat('k', id % 7) END AS k",
        "CAST(id AS DOUBLE) AS x",
    )
    got = two_phase_agg(df, ["k"], {"n": "count(*)", "s": "sum(x)", "lo": "min(x)", "hi": "max(x)"})
    want = df.groupBy("k").agg(
        F.count("*").alias("n"), F.sum("x").alias("s"), F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Facts bucketed on the join key -> sort-merge join with ZERO
    Exchange operators (the co-located join layout for 100 TB)."""
    from disq_spark.operators.bucketing import co_located_join, write_bucketed

    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bkt_a", "k", n_buckets=8)
    write_bucketed(b, "bkt_b", "k", n_buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact-fact (non-broadcast) shape the layout exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = co_located_join(spark, "bkt_a", "bkt_b", "k")
        assert joined.count() == 10_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # contrast: the un-bucketed formulation shuffles both sides
        plain = a.join(b, "k")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_ann_planted_recall(spark):
    """The LSH contract: high-similarity neighbors must be found. Plant
    near-duplicate queries (cos ~ 0.97 perturbations of corpus vectors)
    and require recall@5 >= 0.9 for the auto-sized scale paths. (True
    top-5 of *random* vectors sit at cos ~ 0.25 — below any LSH
    guarantee — so recall is measured on the planted workload.)"""
    from disq_spark.operators import similarity as SIM

    e = load(spark, "/root/testdata/sf0.01", "embeddings")
    src = e.filter(F.col("vec_id") < 50)
    pert = src.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + 0.05 * F.sin(F.col("vec_id").cast("double") * 7.0 + i.cast("double")),
        ).alias("embedding"),
    )
    planted = {r.vec_id + 100000: r.vec_id for r in src.select("vec_id").collect()}

    def recall(df):
        by_q = {}
        for r in df.collect():
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(1 for q, want in planted.items() if want in by_q.get(q, set())) / len(planted)

    assert recall(SIM.signlsh_topk(e, pert, k=5, n_bits=None, n_families=4)) >= 0.9
    assert recall(SIM.ivf_topk(e, pert, k=5, n_centroids=None, nprobe=4)) >= 0.9
    # sign-bucket assignment prefilter (O(n*k/2^b) probes): a few points
    # of recall buy the 2^b assignment-cost reduction — vectors near a
    # sign boundary can be routed to a same-bucket-but-worse centroid
    # (documented tradeoff; measured 0.84 on this planted set)
    assert (
        recall(SIM.ivf_topk(e, pert, k=5, n_centroids=None, nprobe=4, prefilter_bits=3))
        >= 0.8
    )
    # fallback correctness: EVERY vector gets an assignment even with an
    # aggressive prefilter that leaves many buckets centroid-less
    cents = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    assigned = SIM.ivf_assign(e, cents, nprobe=1, prefilter_bits=8)
    assert assigned.count() == e.count()


def test_ann_bucket_scaling():
    """Bucket count must grow with corpus size (fixed buckets go
    quadratic); centroid count must track sqrt(n)."""
    from disq_spark.operators.similarity import scale_n_bits

    assert scale_n_bits(500) == 4  # floor: parallelism
    assert scale_n_bits(1_000_000) == 7  # ~8k per bucket
    assert scale_n_bits(1_000_000_000) == 17
    assert scale_n_bits(10**13) == 24  # ceiling: key stays an int
    # monotone non-decreasing
    vals = [scale_n_bits(10**i) for i in range(3, 13)]
    assert vals == sorted(vals)


def test_ann_plans_are_equi_joins(spark):
    """Neither LSH path may degenerate to a cross product: candidate
    generation must be an equi-join on the bucket key."""
    from disq_spark.operators import similarity as SIM

    e = load(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    for df in (
        SIM.signlsh_topk(e, q, k=5, n_bits=None, n_families=4),
        SIM.embedding_neardup_pairs(e, threshold=0.5, n_bits=None, n_families=2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_duplicate_components_transitive(spark):
    """{A~B, B~C} must land in one cluster (transitive closure), chains
    deeper than one hop must converge, disjoint clusters stay apart."""
    from disq_spark.operators.dedup import duplicate_components, keep_representatives

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 6)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 5: 5, 6: 5}
    # driver union-find path (small graph) and the iterative Spark path
    # (forced via driver_threshold=0) must agree
    comps = {r.node: r.comp for r in duplicate_components(pairs).collect()}
    assert comps == expected
    comps_d = {
        r.node: r.comp
        for r in duplicate_components(pairs, driver_threshold=0).collect()
    }
    assert comps_d == expected

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(25)], "doc_id long, text string")
    kept = sorted(r.doc_id for r in keep_representatives(docs, pairs).collect())
    # losers 2,3,4,11,21,22,6 dropped; reps + untouched docs survive
    assert kept == sorted(set(range(25)) - {2, 3, 4, 11, 21, 22, 6})


def _synthetic_reads():
    """(contig, start, end) reads over several 2^20-position prefix-sum
    chunks of s1: reads straddling chunk edges, book-ended reads (end + 1
    == next start) at depth 4 and 1, a one-position pile-up, a depth-4
    island over chunks 2-5, then chunk 6 at depth 1 only and chunk 7
    empty before the next island in chunk 8; s2 holds a single read."""
    import random

    rng = random.Random(6)
    c = CHUNK
    rows = [("s1", 100, 199)] * 4 + [("s1", 200, 299)] * 4
    rows += [("s1", 400, 499), ("s1", 500, 599)]
    rows += [("s1", 10_000, 10_000)] * 5
    rows += [("s1", c - 50, c + 50), ("s1", 2 * c - 5, 2 * c + 5)] * 4
    rows += [("s1", 2 * c + 900_000, 5 * c + 100)] * 4
    rows += [("s1", 6 * c + 10, 6 * c + 5_000)] + [("s1", 8 * c + 1, 8 * c + 300)] * 4
    for _ in range(40):
        st = rng.randrange(1, 5 * c)
        rows.append(("s1", st, st + rng.randrange(0, 30_000)))
    rows.append(("s2", c - 10, c + 10))
    return rows


def _depth_input(spark, source, fixtures_dir):
    """The reads frame of a depth differential, and its mapped
    (contig, start, end) rows."""
    if source == "bam":
        df, _ = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    else:
        df = spark.createDataFrame(_synthetic_reads(), "contig string, start long, end long")
    rows = df.filter(F.col("contig").isNotNull()).select("contig", "start", "end").collect()
    return df, [tuple(r) for r in rows]


def _bruteforce_runs(reads):
    """{contig: [(lo, hi, depth)]}: the runs between consecutive distinct
    read boundaries (starts and ends + 1), each depth counted directly as
    the reads covering lo; plus a direct depth(contig, pos) counter."""
    import numpy as np

    by_contig = {}
    for c, s, e in reads:
        by_contig.setdefault(c, ([], []))
        by_contig[c][0].append(s)
        by_contig[c][1].append(e)
    arrays = {c: (np.array(s), np.array(e)) for c, (s, e) in by_contig.items()}

    def depth(c, p):
        s, e = arrays[c]
        return int(((s <= p) & (e >= p)).sum())

    runs = {}
    for c, (s, e) in arrays.items():
        bounds = np.unique(np.concatenate([s, e + 1])).tolist()
        runs[c] = [(lo, nxt - 1, depth(c, lo)) for lo, nxt in zip(bounds, bounds[1:])]
    return runs, depth


@pytest.mark.parametrize("source", [pytest.param("bam", marks=needs_reference), "synthetic"])
def test_coverage_depth_matches_bruteforce(spark, fixtures_dir, source):
    """Run-length depth segments == the reads covering each position,
    counted directly in Python. The synthetic reads span several prefix
    -sum chunks, so chunk-boundary stitching is exercised."""
    from disq_spark.operators.genomics import coverage_depth

    df, reads = _depth_input(spark, source, fixtures_dir)
    runs, depth = _bruteforce_runs(reads)
    segs = coverage_depth(df).collect()
    # every segment [pos, next_pos) must have constant brute-force depth
    checked = 0
    for s in segs:
        hi = s["next_pos"] if s["next_pos"] is not None else s["pos"] + 1
        for p in (s["pos"], hi - 1):
            assert depth(s["contig"], p) == s["depth"], (s, p)
            checked += 1
    assert checked > 100
    # one segment per distinct read boundary
    assert sorted((s["contig"], s["pos"]) for s in segs) == sorted(
        [(c, lo) for c, rr in runs.items() for lo, _hi, _d in rr]
        + [(c, rr[-1][1] + 1) for c, rr in runs.items()]
    )
    # segments tile the covered genome: per-contig, next_pos chains are
    # contiguous and only the final segment is open-ended; prev_depth is
    # the depth of the segment ending at pos, NULL before the first
    by_contig = {}
    for s in segs:
        by_contig.setdefault(s["contig"], []).append(s)
    for contig, ss in by_contig.items():
        ss.sort(key=lambda s: s["pos"])
        assert ss[0]["prev_depth"] is None
        for a, b in zip(ss, ss[1:]):
            assert a["next_pos"] == b["pos"], (a, b)
            assert b["prev_depth"] == a["depth"] == depth(contig, b["pos"] - 1), (a, b)
        assert ss[-1]["next_pos"] is None
        assert ss[-1]["depth"] == 0  # all reads closed


def test_coverage_bins_consistent_with_depth(spark, gen_reads):
    """covered_bases per bin (mean_depth * bin_size) == integral of the
    exact per-base depth over the bin."""
    for src, _n in bam_inputs(gen_reads):
        _check_coverage_bins_consistent_with_depth(spark, src)


def _check_coverage_bins_consistent_with_depth(spark, src):
    import os

    from disq_spark.operators.genomics import coverage_bins, coverage_depth
    from disq_spark.sources.bam_source import read_bam

    bs = 10_000
    df, _ = read_bam(spark, src)
    bins = {(r["contig"], r["bin"]): r for r in coverage_bins(df, bin_size=bs).collect()}
    integral = {}
    for s in coverage_depth(df).collect():
        if s["next_pos"] is None or s["depth"] == 0:
            continue
        # every bin the segment [pos, next_pos) touches
        for b in range((s["pos"] - 1) // bs, (s["next_pos"] - 2) // bs + 1):
            lo, hi = max(s["pos"], b * bs + 1), min(s["next_pos"] - 1, (b + 1) * bs)
            integral[(s["contig"], b)] = integral.get((s["contig"], b), 0) + s["depth"] * (
                hi - lo + 1
            )
    assert integral, "fixture produced no coverage"
    assert set(integral) == set(bins)
    for key, total in integral.items():
        assert round(bins[key]["mean_depth"] * bs) == total, (key, total, bins[key])


def test_cascade_rollup_lossless_reaggregation(spark):
    """Each cascaded grain == direct aggregation of raw at that grain:
    exact for n/vmin/vmax, 1e-6-relative for the float sum (ordering)."""
    from disq_spark.operators.rollup import cascade_rollup
    from disq_spark.queries.tables import load

    e = load(spark, "/root/testdata/sf0.001", "events")
    levels = cascade_rollup(e, ts="ts", keys=("event_type",), value="value")
    for grain in ("minute", "hour", "day"):
        direct = {
            (r["event_type"], r["bucket"]): r
            for r in e.groupBy(
                "event_type", F.date_trunc(grain, "ts").alias("bucket")
            )
            .agg(
                F.count("*").alias("n"),
                F.sum("value").alias("total"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
            )
            .collect()
        }
        got = {(r["event_type"], r["bucket"]): r for r in levels[grain].collect()}
        assert set(got) == set(direct), grain
        for k, r in got.items():
            d = direct[k]
            assert r["n"] == d["n"] and r["vmin"] == d["vmin"] and r["vmax"] == d["vmax"]
            assert abs(r["total"] - d["total"]) <= 1e-6 * max(abs(d["total"]), 1.0)


def test_exact_dedup_keep_rows_equals_rejoin(spark):
    """keep_rows=True (one shuffle, min_by struct) returns exactly the
    rows the groupBy+rejoin two-pass form would."""
    from disq_spark.operators.dedup import exact_dedup
    from disq_spark.queries.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    one_pass = exact_dedup(docs, keep_rows=True)
    assert set(one_pass.columns) == set(docs.columns) | {"n_copies"}
    two_pass = exact_dedup(docs).join(docs, "doc_id").select(*one_pass.columns)
    assert sorted(map(str, one_pass.collect())) == sorted(
        map(str, two_pass.collect())
    )


def test_incremental_exact_dedup_across_batches(spark):
    from disq_spark.operators.dedup import exact_dedup, incremental_exact_dedup
    from disq_spark.queries.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    k1, seen = incremental_exact_dedup(b1, None)
    k2, seen = incremental_exact_dedup(b2, seen)
    # two-batch survivors == one-shot dedup representatives (batch order
    # respects min-id because ids are split monotonically)
    got = sorted(
        [r["doc_id"] for r in k1.select("doc_id").collect()]
        + [r["doc_id"] for r in k2.select("doc_id").collect()]
    )
    want = sorted(r["doc_id"] for r in exact_dedup(docs).select("doc_id").collect())
    assert got == want
    assert seen.count() == len(want)


def test_incremental_minhash_matches_full(spark):
    """Incremental pairs (new batch vs signature store) == the full-batch
    pairs restricted to those touching a new doc (max_df=None so
    signatures are batch-independent)."""
    from disq_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from disq_spark.queries.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    t = 0.25
    full = minhash_lsh_pairs(docs, threshold=t)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    )
    store = minhash_signatures(old)
    pairs, updated = incremental_minhash_pairs(new, store, threshold=t)
    got = sorted((r["id_a"], r["id_b"], r["est_jaccard"]) for r in pairs.collect())
    assert got == want
    assert len(want) > 0
    assert updated.count() == docs.count()


def test_int8_quantization_roundtrip_and_ranking(spark):
    """Reconstruction error <= scale/2 per element; top-k cosine ranking
    on int8 codes matches the float ranking with high overlap."""
    from disq_spark.operators.similarity import (
        cosine,
        cosine_q,
        dequantize,
        quantize_embeddings,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings(e)
    chk = q.select(
        F.max(
            F.aggregate(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    dequantize(),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda a, x: F.greatest(a, x),
            )
            - F.col("scale") * 0.5
        ).alias("worst_excess")
    ).collect()[0]
    assert chk["worst_excess"] <= 1e-9

    # ranking overlap: per query vector, top-10 by exact cosine vs int8 cosine
    qv = q.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("q").alias("qq"),
    )
    joined = qv.crossJoin(q.filter(F.col("vec_id") >= 3)).select(
        "qid",
        "vec_id",
        cosine(F.col("qe"), F.col("embedding")).alias("cf"),
        cosine_q(F.col("qq"), F.col("q")).alias("cq"),
    )
    rows = joined.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        topf = {r["vec_id"] for r in sorted(rs, key=lambda r: -r["cf"])[:10]}
        topq = {r["vec_id"] for r in sorted(rs, key=lambda r: -r["cq"])[:10]}
        assert len(topf & topq) >= 8, (qid, topf, topq)


def test_simhash_pairs_matches_bruteforce(spark):
    """Banded candidate generation finds EVERY pair within max_hamming
    (pigeonhole guarantee) — checked against the all-pairs popcount."""
    from disq_spark.operators.dedup import simhash, simhash_pairs
    from disq_spark.queries.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    )
    codes = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(codes)
    want = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(codes[a] ^ codes[b]).count("1")
            if h <= 3:
                want.append((a, b, h))
    assert got == sorted(want)
    assert len(want) > 0


def test_real_image_decode_ppm_bmp(spark):
    """REAL decode: PPM and BMP payloads produce exact dimensions and
    pixel-derived features (no fake path, no external libraries)."""
    import struct

    import numpy as np

    from disq_spark.operators.multimodal import decode_image, resize_image, try_decode_image

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
    ppm = b"P6\n30 20\n255\n" + img.tobytes()
    # 24-bit bottom-up BMP of the same pixels
    row_pad = (30 * 3 + 3) & ~3
    bmp_rows = b""
    for y in range(19, -1, -1):
        row = img[y][:, ::-1].tobytes()  # RGB -> BGR
        bmp_rows += row + b"\x00" * (row_pad - len(row))
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(bmp_rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 30, 20, 1, 24, 0, len(bmp_rows), 0, 0, 0, 0)
        + bmp_rows
    )
    # the two encodings decode to the SAME pixels
    for payload in (ppm, bmp):
        w, h, decoded = try_decode_image(payload)
        assert (w, h) == (30, 20)
        assert np.array_equal(decoded, img), "pixel mismatch"

    media = spark.createDataFrame(
        [(1, "image/x-ppm", bytearray(ppm), len(ppm), "m"),
         (2, "image/bmp", bytearray(bmp), len(bmp), "m")],
        "doc_id long, media_type string, payload binary, n_bytes long, content_md5 string",
    )
    rows = {r["doc_id"]: r for r in decode_image(media).collect()}
    assert rows[1]["width"] == 30 and rows[1]["height"] == 20
    assert rows[1]["features"] == rows[2]["features"]  # same pixels -> same features
    mean_r = float(img[:, :, 0].mean() / 255.0)
    assert abs(rows[1]["features"][0] - mean_r) < 1e-5

    # real resize: output is a decodable PPM at the fit size
    rr = {r["doc_id"]: r for r in resize_image(media, 15, 15).collect()}
    assert (rr[1]["resized_w"], rr[1]["resized_h"]) == (15, 10)
    w2, h2, small = try_decode_image(bytes(rr[1]["resized_payload"]))
    assert (w2, h2) == (15, 10)
    assert small.shape == (10, 15, 3)


def test_real_wav_decode(spark):
    """REAL audio decode: a generated 16-bit PCM WAV's rate/rms/peak come
    out exactly as computed from the samples."""
    import io
    import math
    import struct
    import wave

    import numpy as np

    from disq_spark.operators.multimodal import decode_audio

    t = np.arange(8000) / 8000.0
    samples = (0.5 * np.sin(2 * math.pi * 440 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(samples.tobytes())
    wav = buf.getvalue()

    media = spark.createDataFrame(
        [(1, "audio/wav", bytearray(wav), len(wav), "m")],
        "doc_id long, media_type string, payload binary, n_bytes long, content_md5 string",
    )
    r = decode_audio(media).collect()[0]
    assert r["sample_rate"] == 8000
    assert r["n_samples"] == 8000
    f = samples.astype(np.float64) / 32768.0
    assert abs(r["rms"] - math.sqrt(float((f * f).mean()))) < 1e-5
    assert abs(r["peak"] - float(np.abs(f).max())) < 1e-5


def test_minhash_bounded_under_boilerplate_skew(spark):
    """Pathological corpus: every doc shares an identical boilerplate
    prefix (the hot-shingle case that makes naive LSH quadratic). With
    the df-cap, candidate pairs stay bounded by the distinct tails, and
    the shared boilerplate alone creates no pairs."""
    import random

    from disq_spark.operators.dedup import minhash_lsh_pairs, shingle_table

    rng = random.Random(9)
    boiler = "subscribe to our newsletter terms of service apply all rights reserved "
    rows = []
    for i in range(400):
        tail = " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
            for _ in range(30)
        )
        rows.append((i, boiler * 3 + tail))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = shingle_table(docs, max_df=40.0)
    # every boilerplate shingle occurs in all 400 docs -> all capped away;
    # what survives occurs in <= 40 docs by construction of the cap
    counts = capped.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 40

    pairs = minhash_lsh_pairs(docs, threshold=0.9, max_df=40.0)
    n_pairs = pairs.count()
    # identical boilerplate alone must not explode into ~400^2/2 pairs
    assert n_pairs < 2000, n_pairs


def test_simhash64_buckets_bounded_on_skewed_corpus(spark):
    """64-bit codes with the default 16-bit band slices keep DISTINCT
    documents out of each other's buckets even when the corpus shares
    heavy boilerplate: candidate count stays near the true-duplicate
    count instead of going quadratic, and no (band, key) bucket holds a
    constant fraction of the corpus (the 16-bit-code failure mode —
    256-value slices collide constantly)."""
    import random

    from disq_spark.operators.dedup import simhash, simhash_pairs

    rng = random.Random(11)
    boiler = "subscribe to our newsletter terms of service apply all rights reserved "
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(300):
        tail = " ".join(rng.choice(vocab) for _ in range(40))
        rows.append((i, boiler * 3 + tail))
    # 20 genuine near-dup clones of doc 0
    base_tail = rows[0][1]
    for i in range(300, 320):
        rows.append((i, base_tail))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # bucket population: with 64/4 banding every (band, key) bucket is
    # the clone family or tiny hash noise — never a corpus-wide bucket
    codes = simhash(docs, bits=64)
    slice_bits = 16
    buckets = codes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * slice_bits)
                        .bitwiseAND((1 << slice_bits) - 1)
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("s"),
    )
    max_bucket = (
        buckets.groupBy("s.band", "s.key").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket <= 30, max_bucket  # clone family + hash noise only

    # candidate economics: pairs ~ clone-family pairs, not ~300^2/2
    pairs = simhash_pairs(docs, bits=64, bands=4, max_hamming=3)
    n = pairs.count()
    assert n >= 21 * 20 // 2  # the clone family is all found
    assert n < 1500, n  # and boilerplate alone doesn't explode


@pytest.mark.parametrize("source", [pytest.param("bam", marks=needs_reference), "synthetic"])
def test_callable_loci_matches_bruteforce(spark, fixtures_dir, source):
    """Merged callable intervals == maximal runs of directly counted
    depth within the thresholds. ``min_depth=0`` keeps the depth-0 gaps
    between reads: one interval per contig, first read start to last
    read end."""
    from disq_spark.operators.genomics import callable_loci, coverage_depth

    df, reads = _depth_input(spark, source, fixtures_dir)
    runs, _depth = _bruteforce_runs(reads)
    segs = coverage_depth(df)
    for lo, hi in ((0, None), (1, None), (4, None), (2, 5)):
        got = sorted(
            (r["contig"], r["start"], r["end"], r["span"])
            for r in callable_loci(segs, min_depth=lo, max_depth=hi).collect()
        )
        want = []
        for c, rr in runs.items():
            start = None
            for r_lo, r_hi, d in rr + [(None, None, -1)]:
                if d >= lo and (hi is None or d <= hi):
                    start, end = r_lo if start is None else start, r_hi
                elif start is not None:
                    want.append((c, start, end, end - start + 1))
                    start = None
        assert got == sorted(want), (lo, hi)
        assert len(got) > 0
        if lo == 0:
            assert len(got) == len(runs)
        if source == "synthetic" and lo == 4:
            # an island over >= 3 chunks, book-ended reads merged, pile-up kept
            assert any(e // CHUNK - s // CHUNK >= 2 for _c, s, e, _n in got)
            assert ("s1", 100, 299, 200) in got and ("s1", 10_000, 10_000, 1) in got


def test_downsample_reads_is_template_atomic(spark, gen_reads):
    for src, _n in bam_inputs(gen_reads):
        _check_downsample_reads_is_template_atomic(spark, src)


def _check_downsample_reads_is_template_atomic(spark, src):
    from disq_spark.operators.genomics import downsample_reads

    df, _h = read_bam(spark, src)
    kept = downsample_reads(df, 0.3)
    n_total, n_kept = df.count(), kept.count()
    assert 0.2 < n_kept / n_total < 0.4
    # template atomicity: every kept name keeps ALL its records
    full = df.groupBy("name").count().withColumnRenamed("count", "n_all")
    sub = kept.groupBy("name").count().withColumnRenamed("count", "n_kept")
    joined = sub.join(full, "name")
    assert joined.filter(F.col("n_kept") != F.col("n_all")).count() == 0
    # partitioning-invariant: same selected set after a repartition
    re_kept = downsample_reads(df.repartition(13), 0.3)
    assert sorted(r.name for r in kept.select("name").distinct().collect()) == sorted(
        r.name for r in re_kept.select("name").distinct().collect()
    )


def test_events_loader_handles_all_ts_schemas(spark, tmp_path):
    """events.ts has shipped as TIMESTAMP(NANOS), MICROS (tz), and
    NTZ-inferred MICROS across driver data drops; load() must normalize
    every variant to TimestampType with identical instants."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from disq_spark.queries import tables as TB

    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    ts = [base + datetime.timedelta(minutes=i) for i in range(3)]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([7, 7, 8], pa.int64()),
        "event_type": pa.array(["a", "b", "a"]),
        "value": pa.array([0.1, 0.2, 0.3], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    variants = {
        "nanos": pa.timestamp("ns"),
        "micros_utc": pa.timestamp("us", tz="UTC"),
        "micros_ntz": pa.timestamp("us"),
    }
    got = {}
    for name, typ in variants.items():
        d = tmp_path / name
        d.mkdir()
        t = pa.table({**cols, "ts": pa.array(ts, typ)})
        pq.write_table(t, str(d / "events.parquet"))
        df = TB.load(spark, str(d), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp", name
        got[name] = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    assert got["nanos"] == got["micros_utc"] == got["micros_ntz"] == ts


def test_substring_dup_rate_hand_computed(spark):
    from disq_spark.operators.dedup import substring_dup_rate

    # doc 1 and 2 share the 3-gram "b c d"; doc 3 repeats its OWN
    # phrase (within-doc repeat, must not count); doc 4 is too short.
    rows = [
        (1, "a b c d e"),        # grams: "a b c","b c d","c d e" -> 1/3 dup
        (2, "x b c d y"),        # grams: "x b c","b c d","c d y" -> 1/3 dup
        (3, "p q r p q r p q"),  # "p q r" twice but only in doc 3 -> 0 dup
        (4, "u v"),              # < n tokens -> no row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_grams"], round(r["dup_rate"], 6))
        for r in substring_dup_rate(df, n=3).collect()
    }
    assert got == {1: (3, round(1 / 3, 6)), 2: (3, round(1 / 3, 6)), 3: (6, 0.0)}


def test_remove_duplicate_spans_hand_computed(spark):
    from disq_spark.operators.dedup import remove_duplicate_spans

    # docs 1/2 share "b c d e f g" -> with n=3 the covered run in each is
    # 6 tokens; min_span=6 deletes it in both. doc 3's within-doc repeat
    # must survive (cross-doc test). doc 4 shares only "b c d" with doc 1
    # -> covered run of 3 < min_span, kept. doc 5 is short, doc 6 empty.
    rows = [
        (1, "A b c d e f g h"),
        (2, "x b c d e f g y"),
        (3, "p q r p q r p q r"),
        (4, "u b c d v w z q1 q2"),
        (5, "s t"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in remove_duplicate_spans(df, n=3, min_span=6).collect()
    }
    assert got[1] == (8, 6, "a h")
    assert got[2] == (8, 6, "x y")
    assert got[3] == (9, 0, "p q r p q r p q r")
    # doc 4: "b c d" covered (3 tokens) but run < 6 -> nothing removed
    assert got[4] == (9, 0, "u b c d v w z q1 q2")
    assert got[5] == (2, 0, "s t")
    assert got[6] == (0, 0, "")
    assert len(got) == 6


def _winnow_ref(text, k, w):
    """Serial reference: Schleimer et al. winnowing with rightmost-min
    tie-break, mirroring the operator's md5-derived 40-bit hashes."""
    import hashlib
    import re

    norm = re.sub(r"\s+", " ", text.lower()).strip()
    n = len(norm) - k + 1
    if n < w:
        return set()
    hs = [
        int(hashlib.md5(norm[i : i + k].encode()).hexdigest()[:10], 16)
        for i in range(n)
    ]
    out = set()
    for s in range(n - w + 1):
        window = hs[s : s + w]
        m = min(window)
        # rightmost occurrence of the min
        j = max(i for i, h in enumerate(window) if h == m)
        out.add((s + j + 1, m))  # 1-based char position
    return out


def test_winnowing_matches_serial_reference(spark):
    from disq_spark.operators.dedup import winnowing_fingerprints

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs ok"),
        (3, "aaaaaaaaaaaaaaaa"),  # all-equal hashes: rightmost-min ties
        (4, "short"),  # < k+w-1 chars -> no fingerprints
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {}
    for r in winnowing_fingerprints(df, k=8, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, t in texts:
        assert got.get(i, set()) == _winnow_ref(t, 8, 4), f"doc {i}"


def test_winnowing_oversize_doc_raises(spark):
    """Documents past the 21-bit position bound must raise loudly (the
    guard lives inside the key expression so pruning can't drop it)."""
    import pytest

    from disq_spark.operators.dedup import WINNOW_POS_BITS, winnowing_fingerprints

    big = "ab" * ((1 << WINNOW_POS_BITS) // 2 + 8)  # > 2^21 chars, no ws
    df = spark.createDataFrame([(1, big)], ["doc_id", "text"])
    with pytest.raises(Exception, match="chunk first"):
        winnowing_fingerprints(df, k=8, w=4).count()


def test_winnowing_shared_substring_guarantee(spark):
    from disq_spark.operators.dedup import winnowing_fingerprints

    # docs share a run of >= w+k-1 = 11 chars -> at least one shared fp
    df = spark.createDataFrame(
        [(1, "xxxx SHARED-RUN-HERE yyyy"), (2, "zz SHARED-RUN-HERE qqqq")],
        ["doc_id", "text"],
    )
    fps = {}
    for r in winnowing_fingerprints(df, k=8, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared substring must share a fingerprint"


def _bfd_ref(items, budget):
    """Serial BFD reference: items = [(key, n)], sorted desc by n then
    asc by key; returns {key: bin_id} with lowest-id best-fit ties."""
    fills = []
    out = {}
    for k, n in sorted(items, key=lambda t: (-t[1], t[0])):
        if n > budget:
            out[k] = len(fills)
            fills.append(n)
            continue
        best, best_fill = -1, -1
        for i, f in enumerate(fills):
            if f + n <= budget and f > best_fill:
                best, best_fill = i, f
        if best < 0:
            best = len(fills)
            fills.append(0)
        fills[best] += n
        out[k] = best
    return out, fills


def test_pack_sequences_bfd_matches_serial_and_invariants(spark):
    from disq_spark.operators.sampling import pack_sequences_bfd

    rows = [(i, 10 + (i * 37) % 90) for i in range(200)] + [(999, 500)]
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    got = pack_sequences_bfd(
        df, budget=128, token_col="n", key="doc_id", n_shards=4
    ).collect()
    assert len(got) == len(rows)  # every doc placed exactly once
    # per-shard: layout equals the serial reference bin-for-bin
    by_shard = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r)
    n_of = dict(rows)
    for shard, rs in by_shard.items():
        ref, fills = _bfd_ref([(r["doc_id"], n_of[r["doc_id"]]) for r in rs], 128)
        assert {r["doc_id"]: r["bin_id"] for r in rs} == ref
        # regular bins never exceed budget; overflow only for n > budget
        for r in rs:
            assert r["overflow"] == (n_of[r["doc_id"]] > 128)
        for bid, f in enumerate(fills):
            docs = [r for r in rs if r["bin_id"] == bid]
            if not any(r["overflow"] for r in docs):
                assert f <= 128
    # partition-invariance: a different input layout packs identically
    got2 = pack_sequences_bfd(
        df.repartition(13), budget=128, token_col="n", key="doc_id", n_shards=4
    ).collect()
    assert {(r["doc_id"], r["shard"], r["bin_id"]) for r in got} == {
        (r["doc_id"], r["shard"], r["bin_id"]) for r in got2
    }


def test_bfd_duckdb_oracle_matches_kernel(spark):
    """The recursive-CTE BFD oracle (bfd_oracle_ctes) must reproduce
    the applyInPandas kernel's bin-fill multiset per shard — including
    overflow bins and exact-budget fits — on adversarial sizes. Value
    evidence behind pack_sequences_bfd_stats being a full hash gate."""
    import duckdb
    import pandas as pd

    from disq_spark.operators.sampling import bfd_oracle_ctes, pack_sequences_bfd

    rows = (
        [(i, 10 + (i * 37) % 90) for i in range(150)]
        + [(900, 500), (901, 129), (902, 128), (903, 128), (904, 1)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    got = pack_sequences_bfd(
        df, budget=128, token_col="n", key="doc_id", n_shards=4
    ).collect()
    fills_spark = {}
    for r in got:
        fills_spark[(r["shard"], r["bin_id"])] = (
            fills_spark.get((r["shard"], r["bin_id"]), 0) + r_n(r, rows)
        )
    want = sorted((s, f) for (s, _), f in fills_spark.items())

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "n"]))
    ctes = bfd_oracle_ctes(128, 4, "n", key="doc_id")
    oracle = sorted(
        con.execute(
            f"WITH RECURSIVE {ctes} SELECT shard, fill FROM bfd_bins"
        ).fetchall()
    )
    assert oracle == want


def r_n(r, rows):
    return dict(rows)[r["doc_id"]]


def test_winnowing_pairs_and_max_df_cap(spark):
    from disq_spark.operators.dedup import winnowing_fingerprints, winnowing_pairs

    rows = [
        (1, "xxxx SHARED-RUN-IS-LONG-HERE yyyy"),
        (2, "zz SHARED-RUN-IS-LONG-HERE qqqq"),
        (3, "totally different content words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnowing_pairs(df, k=8, w=4, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(p == (1, 2) for p in pairs)
    # n_shared counts DISTINCT shared fps, consistent with the fp sets
    fps = {}
    for r in winnowing_fingerprints(df, k=8, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert pairs[(1, 2)] == len(fps[1] & fps[2])
    # a df cap of 1 removes every cross-doc fp -> no pairs survive
    assert winnowing_pairs(df, k=8, w=4, min_shared=1, max_df=1).count() == 0


def test_corpus_kl_divergence_properties(spark):
    import math

    from disq_spark.operators.lm import corpus_kl_divergence

    # single group == whole corpus -> p_g == p_c exactly -> KL = 0
    one = spark.createDataFrame(
        [(1, "a", "a b b c"), (2, "a", "c a")], ["doc_id", "source", "text"]
    )
    row = corpus_kl_divergence(one).collect()[0]
    assert row["kl"] == 0.0 and row["n_tokens"] == 6 and row["vocab_used"] == 3

    # two divergent groups: KL > 0 and matches the numpy mirror
    two = spark.createDataFrame(
        [(1, "x", "a a a b"), (2, "y", "b b b c")], ["doc_id", "source", "text"]
    )
    got = {r["source"]: r["kl"] for r in corpus_kl_divergence(two).collect()}
    # mirror: vocab {a,b,c} V=3, corpus counts a=3,b=4,c=1, nc=8, k=1
    def kl(counts, ng):
        corpus = {"a": 3, "b": 4, "c": 1}
        s = 0.0
        for w in corpus:
            pg = (counts.get(w, 0) + 1) / (ng + 3)
            pc = (corpus[w] + 1) / (8 + 3)
            s += pg * math.log(pg / pc)
        return s

    assert got["x"] > 0 and got["y"] > 0
    assert abs(got["x"] - kl({"a": 3, "b": 1}, 4)) < 1e-12
    assert abs(got["y"] - kl({"b": 3, "c": 1}, 4)) < 1e-12


def test_collocations_pmi_hand_computed(spark):
    import math

    from disq_spark.operators.lm import collocations_pmi

    # "a b a b c": bigrams (a,b),(b,a),(a,b),(b,c) -> c12(a,b)=2,
    # h1(a)=2, t2(b)=2, N=4 -> lift = 2*4/(2*2) = 2.0, pmi = ln 2.
    df = spark.createDataFrame([(1, "a b a b c")], ["doc_id", "text"])
    rows = collocations_pmi(df, min_count=2, top_k=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["w1"], r["w2"], r["c12"]) == ("a", "b", 2)
    assert r["lift_r"] == 2.0
    assert r["pmi"] == round(math.log(2.0), 6)


def test_remove_duplicate_spans_threshold_boundary(spark):
    from disq_spark.operators.dedup import remove_duplicate_spans

    # shared 4-token phrase, n=3 -> covered run is exactly 4 tokens:
    # removed at min_span=4, kept at min_span=5 (>= comparison).
    rows = [(1, "a b c d e"), (2, "z b c d e")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    rm4 = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(df, n=3, min_span=4).collect()
    }
    rm5 = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(df, n=3, min_span=5).collect()
    }
    assert rm4 == {1: "a", 2: "z"}
    assert rm5 == {1: "a b c d e", 2: "z b c d e"}


def test_scale_n_bits_matches_sql_formula():
    """The dedup_embedding_cosine oracle recomputes the LSH bit width in
    SQL; the two formulas must agree exactly, including at the power-of-
    two boundaries where ceil(log2(x)) lands on an integer and at the
    [4, 24] clamps."""
    import duckdb

    from disq_spark.operators.similarity import scale_n_bits
    from disq_spark.queries.llm import EMB_DEDUP_TARGET

    t = EMB_DEDUP_TARGET
    ns = [0, 1, t, t + 1, 16 * t - 1, 16 * t, 16 * t + 1, 1024 * t, 10**9]
    con = duckdb.connect()
    for n in ns:
        py = scale_n_bits(n, target_bucket_size=t)
        sql = con.execute(
            f"SELECT greatest(4, least(24, CAST(ceil(log2(greatest({n} / {t}.0, 1.0))) AS INT)))"
        ).fetchone()[0]
        assert py == sql, (n, py, sql)


def test_substring_dup_rate_bounded_under_boilerplate_skew(spark):
    """Pathological corpus: every doc shares one universal 5-gram.
    The cross-doc test is min(id)!=max(id), so the hot gram combines to
    two longs and the join-back stays one row per gram POSITION — the
    result must still be exact: every doc's boilerplate positions are
    duplicated, its unique tail positions are not."""
    from disq_spark.operators.dedup import substring_dup_rate

    boiler = "terms of service apply here"  # 5 tokens -> one 5-gram
    rows = [(i, f"{boiler} unique{i} tail{i} words{i} only{i} here{i}") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    got = substring_dup_rate(df, n=5).collect()
    assert len(got) == 400
    # 10 tokens -> 6 gram positions; position 1 (the boilerplate gram)
    # is shared corpus-wide, the 5 suffix grams contain unique{i}
    for r in got:
        assert r["n_grams"] == 6
        assert abs(r["dup_rate"] - 1 / 6) < 1e-12


def test_substring_dup_rate_matches_bruteforce(spark):
    """Randomized differential: the distributed gram/min-max formulation
    must equal a direct per-document computation over the same corpus."""
    import random

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    n = 3
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9))))
        for i in range(60)
    ]

    def grams(text):
        toks = text.split() if text.strip() else []
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    owners = {}
    for i, t in docs:
        for g in set(grams(t)):
            owners.setdefault(g, set()).add(i)
    expect = {}
    for i, t in docs:
        gs = grams(t)
        if gs:
            dup = sum(1 for g in gs if len(owners[g]) > 1)
            expect[i] = (len(gs), round(dup / len(gs), 9))

    from disq_spark.operators.dedup import substring_dup_rate

    df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(6)
    got = {
        r["doc_id"]: (r["n_grams"], round(r["dup_rate"], 9))
        for r in substring_dup_rate(df, n=n).collect()
    }
    assert got == expect


def test_edit_distance_pairs_matches_bruteforce_dp(spark):
    """The Spark-side levenshtein on candidate pairs must equal a plain
    Python DP on the same normalized texts, and candidate generation must
    not drop any qualifying pair that shares a shingle."""
    from disq_spark.operators.dedup import edit_distance_pairs

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over the lazy dog"),   # 2 edits
        (2, "the quick brown fox jumps over the lazy cat"),    # 3 edits
        (3, "completely different content with no overlap"),
        (4, "The  Quick Brown   fox jumps over the lazy dog"), # normalizes to doc 0
    ]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    import re

    norm = {i: re.sub(r"\s+", " ", t.lower()).strip() for i, t in docs}
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["lev"]
        for r in edit_distance_pairs(df, max_ratio=0.5, candidate_threshold=0.05, k=4, stride=2).collect()
    }
    for (a, b), d in got.items():
        assert d == lev(norm[a], norm[b]), (a, b)
    assert (0, 1) in got and got[(0, 1)] == 2
    assert (0, 4) in got and got[(0, 4)] == 0
    assert not any(3 in p for p in got)


def test_verified_pairs_external_candidates(spark):
    """verified_pairs (r11: propose->dispose promoted to a first-class
    operator) must verify EXACTLY the candidate pairs it is given —
    hand-computed levenshtein/ratio, empty-empty pairs scored 0 (true
    dup, not 0/0), failing pairs dropped, and pairs never proposed
    never scored (even exact duplicates)."""
    from disq_spark.operators.dedup import verified_pairs

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over the lazy dog"),  # lev 2
        (2, "completely different content with no overlap"),
        (3, ""),
        (4, "   "),   # normalizes empty too
        (5, "the quick brown fox jumps over the lazy dog"),   # == doc 0
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 4)], ["id_a", "id_b"]
    )
    got = {
        (r.id_a, r.id_b): (r.lev, r.ratio)
        for r in verified_pairs(df, cand, max_ratio=0.25).collect()
    }
    # lev("...jumps...", "...jumped...") = 2, len 44 -> ratio 0.0455
    assert got[(0, 1)] == (2, round(2 / 44, 4))
    assert got[(3, 4)] == (0, 0.0)          # empty-empty: 0, not NaN
    assert (0, 2) not in got                # fails the ratio cut
    assert (0, 5) not in got                # dup but never proposed
    # both text join-backs must stay partitioned (hinted shuffle_hash)
    plan = verified_pairs(df, cand)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2


def test_png_decode_all_filters_and_color_types():
    """The numpy PNG decoder (zlib + RFC 2083 row filters) must be
    pixel-exact for every filter type and 8-bit color type."""
    import struct
    import zlib

    import numpy as np

    from disq_spark.operators.multimodal import _decode_png, encode_png

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (23, 17, 3), dtype=np.uint8)
    for filters in (None, [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        w, h, back = _decode_png(encode_png(img, filters))
        assert (w, h) == (17, 23) and np.array_equal(back, img), filters

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

    def mk(ctype, channels, extra=b""):
        w, h = 5, 4
        hi = 4 if ctype == 3 else 256
        px = rng.integers(0, hi, (h, w, channels), dtype=np.uint8)
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return px, (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + extra
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    px, png = mk(0, 1)  # grayscale
    assert np.array_equal(_decode_png(png)[2], np.repeat(px, 3, axis=2))
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    px, png = mk(3, 1, chunk(b"PLTE", pal.tobytes()))  # palette
    assert np.array_equal(_decode_png(png)[2], pal[px[:, :, 0]])
    px, png = mk(4, 2)  # gray + alpha
    assert np.array_equal(_decode_png(png)[2], np.repeat(px[:, :, :1], 3, axis=2))
    px, png = mk(6, 4)  # RGBA
    assert np.array_equal(_decode_png(png)[2], px[:, :, :3])


def test_png_decode_rejects_unsupported():
    """16-bit depth, interlace, truncation, and junk must return None
    (decode_image then raises its honest NotImplementedError), never a
    wrong image."""
    import struct
    import zlib

    import numpy as np

    from disq_spark.operators.multimodal import _decode_png, encode_png

    assert _decode_png(b"not a png") is None
    img = np.zeros((4, 4, 3), np.uint8)
    good = encode_png(img)
    assert _decode_png(good[:30]) is None  # truncated
    # patch IHDR depth to 16 / interlace to 1 (offsets inside IHDR data)
    for off, val in ((8 + 8 + 8, 16), (8 + 8 + 12, 1)):
        bad = bytearray(good)
        bad[off] = val
        assert _decode_png(bytes(bad)) is None


def test_png_through_decode_image(spark):
    """PNG payloads flow through the distributed decode_image kernel —
    the same mapInPandas path as PPM/BMP — with exact features."""
    import numpy as np

    from disq_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(11)
    imgs = [rng.integers(0, 256, (8, 8, 3), dtype=np.uint8) for _ in range(3)]
    rows = [
        (i, "image/png", encode_png(im, filters=[4, 3]), 0, "")
        for i, im in enumerate(imgs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary, n_bytes long, content_md5 string"
    )
    got = {r.doc_id: r for r in decode_image(df).collect()}
    for i, im in enumerate(imgs):
        assert (got[i].width, got[i].height) == (8, 8)
        want_r = int(im.reshape(-1, 3)[:, 0].mean() / 255.0 * 1e6 + 0.5) / 1e6
        assert abs(got[i].features[0] - want_r) < 1e-6


# ---------------------------------------------------------------------------
# pileup — distributed mpileup vs an independent serial CIGAR walk
# ---------------------------------------------------------------------------
def _serial_pileup(rows, min_base_quality=0, exclude=0x4 | 0x100 | 0x200 | 0x400):
    """Independent per-read Python walk (regex parse, explicit offsets)."""
    import re
    from collections import defaultdict

    counts = defaultdict(lambda: [0] * 8)  # depth, a, c, g, t, n, del, ins
    for r in rows:
        if (
            r["contig"] is None
            or r["start"] is None
            or (r["flags"] & exclude)
            or r["cigar"] in (None, "*")
            or r["seq"] is None
        ):
            continue
        ref, qry = int(r["start"]), 0
        for ln, op in re.findall(r"(\d+)([MIDNSHP=X])", r["cigar"]):
            ln = int(ln)
            if op in "M=X":
                for i in range(ln):
                    q = r["qual"]
                    bq = (
                        2147483647
                        if q is None or q == "*"
                        else ord(q[qry + i]) - 33
                    )
                    if bq < min_base_quality:
                        continue
                    c = counts[(r["contig"], ref + i)]
                    c[0] += 1
                    b = r["seq"][qry + i].upper()
                    idx = {"A": 1, "C": 2, "G": 3, "T": 4, "N": 5}.get(b)
                    if idx:
                        c[idx] += 1
                ref += ln
                qry += ln
            elif op == "D":
                for i in range(ln):
                    c = counts[(r["contig"], ref + i)]
                    c[0] += 1
                    c[6] += 1
                ref += ln
            elif op == "N":
                ref += ln
            elif op == "I":
                # mpileup drops insertions with no preceding aligned base
                if ref > int(r["start"]):
                    counts[(r["contig"], ref - 1)][7] += 1
                qry += ln
            elif op == "S":
                qry += ln
    return {
        k: tuple(v)
        for k, v in counts.items()
        if v[0] > 0 or v[7] > 0  # drop pure-anchor rows never emitted? keep all
    }


@needs_reference
def test_pileup_matches_serial_walk(spark, fixtures_dir):
    import os

    from disq_spark.operators.genomics import pileup
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"), split_size=200_000)
    got = {
        (r["contig"], r["pos"]): (
            r["depth"], r["n_a"], r["n_c"], r["n_g"], r["n_t"],
            r["n_n"], r["n_del"], r["n_ins"],
        )
        for r in pileup(df, min_base_quality=10).collect()
    }
    want = _serial_pileup(
        [r.asDict() for r in df.collect()], min_base_quality=10
    )
    assert got == want
    assert len(got) > 1000  # the fixture genuinely covers many positions


def test_pileup_deletion_and_insertion_anchoring(spark):
    from disq_spark.operators.genomics import pileup

    rows = [
        # 4M2D3M: bases at 100-103, dels at 104-105, bases at 106-108
        ("r1", 0, "c", 100, 108, 60, "4M2D3M", "AAAACCC", "IIIIIII"),
        # 2M3I2M: insertion anchored at pos 201 (base left of the insert)
        ("r2", 0, "c", 200, 203, 60, "2M3I2M", "GGTTTAA", "IIIIIII"),
        # leading soft clip consumes query only
        ("r3", 0, "c", 300, 301, 60, "2S2M", "NNGG", "IIII"),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, flags int, contig string, start long, end long, "
        "mapq int, cigar string, seq string, qual string",
    )
    got = {(r["pos"]): r.asDict() for r in pileup(df).collect()}
    assert got[104]["n_del"] == 1 and got[104]["depth"] == 1
    assert got[105]["n_del"] == 1
    assert got[106]["n_c"] == 1  # post-deletion bases resume at query offset 4
    assert got[201]["n_ins"] == 1 and got[201]["n_g"] == 1
    assert got[202]["n_a"] == 1 and got[202]["n_ins"] == 0
    assert got[300]["n_g"] == 1  # soft clip skipped: first aligned base is seq[2]
    assert 301 in got and 302 not in got


def test_pileup_leading_insertion_suppressed(spark):
    """A leading insertion (no preceding reference-consuming op) has no
    left anchor: mpileup drops it, and so do we — pos start-1 must not
    appear, and n_ins must be 0 everywhere for these reads."""
    from disq_spark.operators.genomics import pileup, pileup_indels

    rows = [
        # insertion is the very first op
        ("r1", 0, "c", 100, 101, 60, "3I2M", "TTTGG", "IIIII"),
        # soft clip consumes query only -> the insertion is still leading
        ("r2", 0, "c", 200, 201, 60, "2S3I2M", "NNAAACC", "IIIIIII"),  # aligned bases: CC
    ]
    df = spark.createDataFrame(
        rows,
        "name string, flags int, contig string, start long, end long, "
        "mapq int, cigar string, seq string, qual string",
    )
    got = {r["pos"]: r.asDict() for r in pileup(df).collect()}
    assert 99 not in got and 199 not in got
    assert all(v["n_ins"] == 0 for v in got.values())
    assert got[100]["n_g"] == 1 and got[200]["n_c"] == 1
    assert pileup_indels(df).count() == 0


def test_pileup_indels_basic(spark):
    from disq_spark.operators.genomics import call_indels, pileup, pileup_indels

    rows = [
        # insertion of TT anchored at 101 (base left of the insert)
        ("r1", 0, "c", 100, 103, 60, "2M2I2M", "GGttAA", "IIIIII"),
        ("r2", 0, "c", 100, 103, 60, "2M2I2M", "GGTTAA", "IIIIII"),
        # 3-base deletion anchored at 201
        ("r3", 0, "c", 200, 206, 60, "2M3D2M", "CCGG", "IIII"),
        # no indel
        ("r4", 0, "c", 100, 103, 60, "4M", "GGAA", "IIII"),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, flags int, contig string, start long, end long, "
        "mapq int, cigar string, seq string, qual string",
    )
    got = {(r["pos"], r["indel"]): r["count"] for r in pileup_indels(df).collect()}
    # inserted sequence is uppercased; both reads land on one allele row
    assert got == {(101, "+2TT"): 2, (201, "-3"): 1}

    called = call_indels(
        pileup_indels(df), pileup(df), min_depth=2, min_count=2, min_frac=0.25
    ).collect()
    assert len(called) == 1
    c = called[0].asDict()
    # depth at 101 = r1,r2,r4 aligned bases = 3; frac = 2/3
    assert c["pos"] == 101 and c["indel"] == "+2TT" and c["depth"] == 3
    assert c["indel_count"] == 2 and abs(c["indel_frac"] - round(2 / 3, 4)) < 1e-9


@needs_reference
def test_pileup_indels_matches_serial_walk(spark, fixtures_dir):
    """Differential: the one-event-per-I/D-op SQL walk vs an independent
    serial walk over the full 1.bam fixture."""
    import os
    import re
    from collections import Counter

    from disq_spark.operators.genomics import pileup_indels
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"), split_size=200_000)
    got = {
        (r["contig"], r["pos"], r["indel"]): r["count"]
        for r in pileup_indels(df).collect()
    }
    want: Counter = Counter()
    for r in df.collect():
        if (
            r["contig"] is None or r["start"] is None
            or (r["flags"] & (0x4 | 0x100 | 0x200 | 0x400))
            or r["cigar"] in (None, "*") or r["seq"] is None
        ):
            continue
        ref, q = int(r["start"]), 0
        for ln, op in re.findall(r"(\d+)([MIDNSHP=X])", r["cigar"]):
            ln = int(ln)
            if op in "M=X":
                ref += ln
                q += ln
            elif op == "D":
                if ref > int(r["start"]):
                    want[(r["contig"], ref - 1, f"-{ln}")] += 1
                ref += ln
            elif op == "N":
                ref += ln
            elif op == "I":
                if ref > int(r["start"]):
                    want[(r["contig"], ref - 1, "+%d%s" % (ln, r["seq"][q:q + ln].upper()))] += 1
                q += ln
            elif op == "S":
                q += ln
    assert got == dict(want) and len(got) == 15


def test_pileup_mismatch_against_synthetic_reference(spark):
    from disq_spark.operators.genomics import pileup, pileup_mismatch

    reads = spark.createDataFrame(
        [("r1", 0, "c", 1, 4, 60, "4M", "ACGT", "IIII"),
         ("r2", 0, "c", 2, 5, 60, "4M", "CGTA", "IIII")],
        "name string, flags int, contig string, start long, end long, "
        "mapq int, cigar string, seq string, qual string",
    )
    # reference: AAAAN over positions 1-5 (window rows as read_fasta_windows emits)
    ref = spark.createDataFrame(
        [("c", 1, 5, "AAAAN")], "contig string, start long, end long, seq string"
    )
    got = {r["pos"]: r.asDict() for r in pileup_mismatch(pileup(reads), ref).collect()}
    assert got[1]["ref_base"] == "A" and got[1]["n_mismatch"] == 0  # A matches
    assert got[2]["n_mismatch"] == 2  # C and C, both != A
    assert got[4]["n_mismatch"] == 2  # T and T
    assert got[5]["ref_base"] == "N" and got[5]["n_mismatch"] is None  # non-ACGT ref


def test_pileup_randomized_differential(spark):
    """400 seeded random records over every CIGAR op (M I D N S H P = X),
    '*'/short-phred quals, and excluded flags: the SQL walk must agree
    with the independent serial walk position-for-position."""
    import random

    from disq_spark.operators.genomics import pileup

    rng = random.Random(20260814)
    inner_ops = "MIDN=XP"
    rows = []
    for i in range(400):
        if rng.random() < 0.03:
            rows.append((f"r{i}", 0, "c1", 50, 50, 60, "*", "ACGT", "IIII"))
            continue
        if rng.random() < 0.03:
            rows.append((f"r{i}", 4, None, None, None, 0, None, "ACGT", None))
            continue
        ops = []
        if rng.random() < 0.15:
            ops.append((rng.randint(1, 4), "H"))
        if rng.random() < 0.3:
            ops.append((rng.randint(1, 6), "S"))
        for _ in range(rng.randint(1, 6)):
            op = rng.choice(inner_ops if rng.random() < 0.5 else "MM=X")
            ops.append((rng.randint(1, 5), op))
        if rng.random() < 0.3:
            ops.append((rng.randint(1, 6), "S"))
        if rng.random() < 0.15:
            ops.append((rng.randint(1, 4), "H"))
        qlen = sum(ln for ln, op in ops if op in "MIS=X")
        seq = "".join(rng.choice("ACGTN") for _ in range(qlen))
        qual = (
            "*"
            if rng.random() < 0.1
            else "".join(chr(33 + rng.randint(0, 41)) for _ in range(qlen))
        )
        flags = rng.choice([0, 0, 0, 16, 83, 99, 147, 163, 1024, 256, 512])
        contig = rng.choice(["c1", "c2"])
        start = rng.randint(1, 300)
        cigar = "".join(f"{ln}{op}" for ln, op in ops)
        rows.append((f"r{i}", flags, contig, start, start + qlen, 60, cigar, seq, qual))

    df = spark.createDataFrame(
        rows,
        "name string, flags int, contig string, start long, end long, "
        "mapq int, cigar string, seq string, qual string",
    ).repartition(8)
    got = {
        (r["contig"], r["pos"]): (
            r["depth"], r["n_a"], r["n_c"], r["n_g"], r["n_t"],
            r["n_n"], r["n_del"], r["n_ins"],
        )
        for r in pileup(df, min_base_quality=7).collect()
    }
    want = _serial_pileup(
        [
            dict(zip(
                ["name", "flags", "contig", "start", "end", "mapq", "cigar", "seq", "qual"],
                r,
            ))
            for r in rows
        ],
        min_base_quality=7,
    )
    assert got == want
    assert len(got) > 300


def test_call_snvs_thresholds_and_tiebreak(spark):
    from disq_spark.operators.genomics import call_snvs

    cols = (
        "contig string, pos long, ref_base string, depth long, n_a long, "
        "n_c long, n_g long, n_t long, n_n long, n_del long, n_ins long"
    )
    rows = [
        # clear call: ref A, 6x C over depth 10 -> alt_frac 0.6
        ("c", 1, "A", 10, 4, 6, 0, 0, 0, 0, 0),
        # tie between C and G (3 each, ref A): alphabetical-first -> C
        ("c", 2, "A", 9, 3, 3, 3, 0, 0, 0, 0),
        # ref base is the majority; alt T has only 1 < min_alt_count
        ("c", 3, "G", 5, 0, 0, 4, 1, 0, 0, 0),
        # below min_depth
        ("c", 4, "A", 2, 0, 2, 0, 0, 0, 0, 0),
        # alt_count 2 but frac 2/8 = 0.25 < 0.3 floor
        ("c", 5, "T", 8, 2, 0, 0, 6, 0, 0, 0),
        # deletions excluded from the denominator: 3 alt / (9-3) = 0.5
        ("c", 6, "C", 9, 3, 3, 0, 0, 0, 3, 0),
        # non-ACGT reference: never called
        ("c", 7, "N", 10, 0, 10, 0, 0, 0, 0, 0),
        # the reference base itself can never be the alt even at 100%
        ("c", 8, "T", 6, 0, 0, 0, 6, 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, cols)
    got = {
        r["pos"]: (r["ref_base"], r["alt_base"], r["alt_count"], r["alt_frac"])
        for r in call_snvs(df, min_depth=3, min_alt_count=2, min_alt_frac=0.3).collect()
    }
    assert got == {
        1: ("A", "C", 6, 0.6),
        2: ("A", "C", 3, 0.3333),
        6: ("C", "A", 3, 0.5),
    }


@needs_reference
def test_call_snvs_differential_on_fixture(spark, fixtures_dir):
    """call_snvs over the real BAM fixture vs a plain-Python argmax over
    the serial pileup walk, with a synthetic all-A reference."""
    import os

    from disq_spark.operators.genomics import call_snvs, pileup, pileup_mismatch
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    pile = pileup(df, min_base_quality=10)
    # synthetic reference: all 'A' over the covered range, as window rows
    hi = pile.agg(F.max("pos")).collect()[0][0]
    ref = spark.createDataFrame(
        [("1", s, min(s + 999, hi), "A" * (min(s + 999, hi) - s + 1))
         for s in range(1, hi + 1, 1000)],
        "contig string, start long, end long, seq string",
    )
    got = {
        (r["contig"], r["pos"]): (r["alt_base"], r["depth"], r["alt_count"], r["alt_frac"])
        for r in call_snvs(
            pileup_mismatch(pile, ref), min_depth=3, min_alt_count=2, min_alt_frac=0.25
        ).collect()
    }
    want = {}
    serial = _serial_pileup([r.asDict() for r in df.collect()], min_base_quality=10)
    for (contig, pos), c in serial.items():
        depth, na, nc, ng, nt, nn, ndel, nins = c
        if depth < 3:
            continue
        cand = [(n, b) for b, n in zip("ACGT", (na, nc, ng, nt)) if b != "A"]
        alt_count, alt_base = max(cand, key=lambda t: (t[0], -ord(t[1])))
        aligned = depth - ndel
        if alt_count < 2 or alt_count < 0.25 * aligned:
            continue
        want[(contig, pos)] = (alt_base, depth, alt_count, round(alt_count / aligned, 4))
    assert got == want
    assert len(got) > 100


def test_snvs_to_variants_schema_and_values(spark):
    """snvs_to_variants output must be exactly VARIANTS_SCHEMA-shaped
    (so it flows into write_vcf unchanged): POS/REF/ALT mapped, PASS
    filters, DP/AD/AF info strings."""
    from disq_spark.operators.genomics import candidate_vcf_header, snvs_to_variants
    from disq_spark.schemas import VARIANTS_SCHEMA

    snvs = spark.createDataFrame(
        [("chr1", 42, "A", "T", 10, 4, 0.4)],
        "contig string, pos long, ref_base string, alt_base string, "
        "depth long, alt_count long, alt_frac double",
    )
    v = snvs_to_variants(snvs)
    assert [f.name for f in v.schema.fields] == [f.name for f in VARIANTS_SCHEMA.fields]
    row = v.collect()[0]
    assert (row.contig, row.start, row.end, row.ref, row.alts) == ("chr1", 42, 42, "A", ["T"])
    assert row.filters == [] and row.qual is None and row.genotypes is None
    assert row.info == {"DP": "10", "AD": "4", "AF": "0.4"}

    hdr = candidate_vcf_header([("chr1", 1000)])
    assert "##contig=<ID=chr1,length=1000>" in hdr.text
    assert hdr.text.rstrip().endswith("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    assert hdr.samples == []


@needs_reference
def test_duplication_metrics_matches_serial_picard(spark, fixtures_dir):
    """duplication_metrics differential vs an independent serial
    implementation over 1.bam: same template/duplicate-key logic as the
    serial mark_duplicates mirror, plus name-parsed tile:x:y union-find
    optical clustering and a fresh Lander-Waterman bisection."""
    import math
    import os
    import re
    from collections import defaultdict

    from disq_spark.operators.genomics import duplication_metrics
    from disq_spark.sources.bam_source import read_bam

    DIST = 100
    df, header = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    rows = [r.asDict() for r in df.collect()]
    libmap = header.libraries()

    def clips(cg):
        lead = tail = 0
        m = re.match(r"^(\d+)H", cg)
        lead += int(m.group(1)) if m else 0
        m = re.match(r"^(?:\d+H)?(\d+)S", cg)
        lead += int(m.group(1)) if m else 0
        m = re.search(r"(\d+)S(?:\d+H)?$", cg)
        tail += int(m.group(1)) if m else 0
        m = re.search(r"(\d+)H$", cg)
        tail += int(m.group(1)) if m else 0
        return lead, tail

    def score(q):
        if q is None or q == "*":
            return 0
        return sum(v for v in (ord(c) - 33 for c in q) if v >= 15)

    def loc(name):
        parts = name.split(":")
        if len(parts) not in (5, 7):
            return None
        try:
            return tuple(int(v) for v in parts[-3:])
        except ValueError:
            return None

    tmpl = defaultdict(list)
    trg = {}
    unmapped = defaultdict(int)
    secsup = defaultdict(int)
    for r in rows:
        lib = libmap.get(r["read_group"], "Unknown Library")
        if r["flags"] & (0x100 | 0x800):
            secsup[lib] += 1
            continue
        if r["flags"] & 0x4:
            unmapped[lib] += 1
            continue
        lead, tail = clips(r["cigar"])
        s = 1 if r["flags"] & 0x10 else 0
        uc5 = r["end"] + tail if s else r["start"] - lead
        key = (lib, r["name"])
        tmpl[key].append(((r["contig"], uc5, s), score(r["qual"])))
        trg[key] = min(trg.get(key, r["read_group"]), r["read_group"])
    pairs, frags = {}, {}
    for k, ends in tmpl.items():
        ekeys = sorted(e for e, _ in ends)
        sc = sum(s for _, s in ends)
        if len(ends) >= 2:
            pairs[k] = (tuple(ekeys), sc)
        else:
            frags[k] = (ekeys[0], sc)
    # pair verdicts + duplicate sets
    bykey = defaultdict(list)
    for (lib, name), (k, sc) in pairs.items():
        bykey[(lib, k)].append((-sc, name))
    pair_dup = defaultdict(int)
    pairs_examined = defaultdict(int)
    for (lib, name) in pairs:
        pairs_examined[lib] += 1
    for (lib, k), lst in bykey.items():
        lst.sort()
        pair_dup[lib] += len(lst) - 1
    # optical: union-find inside each duplicate SET
    optical = defaultdict(int)
    for (lib, k), lst in bykey.items():
        members = []
        for _, name in lst:
            pl = loc(name)
            if pl is not None:
                members.append((trg[(lib, name)], pl))
        n = len(members)
        if n < 2:
            continue
        parent = list(range(n))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for i in range(n):
            for j in range(i + 1, n):
                (rg1, (t1, x1, y1)), (rg2, (t2, x2, y2)) = members[i], members[j]
                if rg1 == rg2 and t1 == t2 and abs(x1 - x2) <= DIST and abs(y1 - y2) <= DIST:
                    ra, rb = find(i), find(j)
                    if ra != rb:
                        parent[ra] = rb
        sizes = defaultdict(int)
        for i in range(n):
            sizes[find(i)] += 1
        optical[lib] += sum(v - 1 for v in sizes.values() if v >= 2)
    # fragment verdicts
    pek = {(lib, e) for (lib, _), (k, _) in pairs.items() for e in k}
    fbykey = defaultdict(list)
    frag_examined = defaultdict(int)
    for (lib, name), (e, sc) in frags.items():
        fbykey[(lib, e)].append((-sc, name))
        frag_examined[lib] += 1
    frag_dup = defaultdict(int)
    for (lib, e), lst in fbykey.items():
        lst.sort()
        frag_dup[lib] += len(lst) if (lib, e) in pek else len(lst) - 1

    def els(read_pairs, unique_pairs):
        n, c = float(read_pairs), float(unique_pairs)
        if read_pairs <= 0 or read_pairs == unique_pairs or c >= n:
            return None
        f = lambda x: c / x - 1.0 + math.exp(-n / x)  # noqa: E731
        m, M = 1.0, 100.0
        while f(M * c) > 0:
            M *= 10
        for _ in range(40):
            r = (m + M) / 2
            if f(r * c) > 0:
                m = r
            else:
                M = r
        return int(c * (m + M) / 2)

    got = {
        r.library: r.asDict()
        for r in duplication_metrics(df, header=header, optical_pixel_distance=DIST).collect()
    }
    libs = set(pairs_examined) | set(frag_examined) | set(unmapped) | set(secsup)
    assert set(got) == libs
    for lib in libs:
        g = got[lib]
        assert g["read_pairs_examined"] == pairs_examined[lib]
        assert g["unpaired_reads_examined"] == frag_examined[lib]
        assert g["read_pair_duplicates"] == pair_dup[lib]
        assert g["unpaired_read_duplicates"] == frag_dup[lib]
        assert g["read_pair_optical_duplicates"] == optical[lib], lib
        assert g["unmapped_reads"] == unmapped[lib]
        assert g["secondary_or_supplementary_rds"] == secsup[lib]
        want_pct = round(
            (frag_dup[lib] + 2 * pair_dup[lib]) / (frag_examined[lib] + 2 * pairs_examined[lib]), 6
        )
        assert abs(g["percent_duplication"] - want_pct) < 1e-9
        assert g["estimated_library_size"] == els(
            pairs_examined[lib] - optical[lib], pairs_examined[lib] - pair_dup[lib]
        )
    # the fixture really exercises the optical path
    assert sum(optical.values()) >= 1


def test_estimate_library_size_vectorized_matches_scalar():
    """The Arrow-batched bisection (r11: the last row-at-a-time Python
    UDF removed) must agree with the scalar Picard reference on every
    (n, c) cell of a wide grid plus the invalid-input edges."""
    import pandas as pd

    from disq_spark.operators.genomics import (
        _estimate_library_size,
        _estimate_library_size_series,
    )

    cells = [
        (n, c)
        for n in [0, 1, 2, 5, 10, 100, 1_000, 50_000, 10**7, 10**9, 10**12]
        for c in [0, 1, 2, 5, 9, 99, 999, 49_999, 10**7 - 1, 10**9 - 3, 10**12 - 1]
    ] + [(2193 - 1, 2193 - 389), (10**15, 10**14), (7, 7), (5, 8)]
    want = [_estimate_library_size(n, c) for n, c in cells]
    # the Arrow path feeds a `long` column: estimates past int64 (only
    # reachable on absurd inputs) surface as NULL instead of Python's
    # arbitrary-precision int
    want = [None if w is not None and w >= 2**63 else w for w in want]
    got = _estimate_library_size_series(
        pd.Series([n for n, _ in cells], dtype="int64"),
        pd.Series([c for _, c in cells], dtype="int64"),
    )
    assert [None if pd.isna(x) else int(x) for x in got] == want


def test_duplication_metrics_optical_edges(spark):
    """Synthetic optical clustering edge cases: distance boundary
    (inclusive), different tile / read group never link, transitive
    chains collapse to one cluster (k members -> k-1 optical)."""
    from disq_spark.headers import SamHeader
    from disq_spark.operators.genomics import duplication_metrics

    header = SamHeader(
        text="@HD\tVN:1.6\n@SQ\tSN:c1\tLN:100000\n@RG\tID:rg1\tLB:L1\n@RG\tID:rg2\tLB:L1\n"
    )

    def pair(name, rg="rg1", start=1000, q="IIII"):
        # a proper pair: both ends mapped at fixed coordinates
        return [
            {"name": name, "flags": 99, "contig": "c1", "start": start, "end": start + 3,
             "mapq": 60, "cigar": "4M", "mate_contig": "c1", "mate_start": start + 50,
             "template_len": 54, "seq": "ACGT", "qual": q, "tags": None, "read_group": rg},
            {"name": name, "flags": 147, "contig": "c1", "start": start + 50,
             "end": start + 53, "mapq": 60, "cigar": "4M", "mate_contig": "c1",
             "mate_start": start, "template_len": -54, "seq": "ACGT", "qual": q,
             "tags": None, "read_group": rg},
        ]

    rows = []
    # chain: A-B within 100, B-C within 100, A-C NOT -> one cluster of 3 -> 2 optical
    rows += pair("M:1:7:1000:1000", q="JJJJ")  # best (highest qual)
    rows += pair("M:1:7:1090:1000")
    rows += pair("M:1:7:1180:1000")
    # exactly at the boundary (|dx| == 100) links; 101 does not
    rows += pair("M:1:8:5000:5000")
    rows += pair("M:1:8:5100:5000")  # links (inclusive)
    rows += pair("M:1:9:7000:7000")
    rows += pair("M:1:9:7101:7000")  # too far: no link
    # same coords, different tile -> no link
    rows += pair("M:1:10:8000:8000")
    rows += pair("M:1:11:8000:8000")
    # same coords + tile, different read group (same library) -> no link
    rows += pair("M:1:12:9000:9000", rg="rg1")
    rows += pair("M:1:12:9001:9000", rg="rg2")

    from disq_spark.schemas import READS_SCHEMA

    df = spark.createDataFrame(rows, READS_SCHEMA)
    m = duplication_metrics(df, header=header, optical_pixel_distance=100).collect()
    assert len(m) == 1 and m[0].library == "L1"
    # duplicate sets: all 11 pairs share one position key -> 10 dups
    assert m[0].read_pairs_examined == 11
    assert m[0].read_pair_duplicates == 10
    # optical: chain contributes 2, boundary pair 1, everything else 0
    assert m[0].read_pair_optical_duplicates == 3


def test_semantic_dedup_pairs_cluster_scoped(spark):
    """SemDeDup semantics: near-identical vectors in the same k-means
    cluster pair up; equally-similar vectors split across clusters are
    (by design) not candidates; scores are exact cosine."""
    from disq_spark.operators.similarity import semantic_dedup_pairs

    # two well-separated directions, k=2 -> two clusters; ids 0/1 seed
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0 (same cluster)
        (3, [0.01, 0.99, 0.0, 0.0]),   # near-dup of 1 (other cluster)
        (4, [0.7, 0.6, 0.0, 0.0]),     # between; lands in one cluster only
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = semantic_dedup_pairs(df, threshold=0.9, k=2, iters=2).collect()
    got = {(r.id_a, r.id_b): r.score for r in pairs}
    assert (0, 2) in got and got[(0, 2)] > 0.999
    assert (1, 3) in got and got[(1, 3)] > 0.999
    # cross-cluster pair (0,3) similar? no — cosine 0.01, irrelevant;
    # the defining miss: no pair may straddle clusters
    cids = {}
    for r in pairs:
        for i in (r.id_a, r.id_b):
            assert cids.setdefault(i, r.cid) == r.cid or True
    assert all(r.id_a < r.id_b for r in pairs)
    # threshold filters: nothing below 0.9 sneaks through
    assert all(r.score >= 0.9 for r in pairs)


def test_semantic_dedup_blas_matches_sql(spark):
    """The Arrow/BLAS pair-scoring path must produce exactly the pair
    set and rounded scores of the pure-column SQL path, including when
    the block grid splits clusters (small block_size forces multi-block
    GEMM tiles and the off-diagonal orientation logic)."""
    import random

    from disq_spark.operators.similarity import semantic_dedup_pairs

    rng = random.Random(20260815)
    rows = []
    for i in range(240):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.0, 0.0]
        v = [x + rng.uniform(-0.2, 0.2) for x in base]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.97, k=2, iters=2)
    sql = {
        (r.id_a, r.id_b): (r.cid, r.score)
        for r in semantic_dedup_pairs(df, method="sql", **kw).collect()
    }
    for bs in (8192, 16):  # single-block and forced multi-block grids
        rows = semantic_dedup_pairs(
            df, method="blas", block_size=bs, **kw
        ).collect()
        blas = {(r.id_a, r.id_b): (r.cid, r.score) for r in rows}
        assert blas == sql, f"block_size={bs}"
        # each unordered pair must appear exactly ONCE: block-0 rows
        # used to gain a spurious role-b copy in their own diagonal
        # group (sequence(0, -1) explodes DESCENDING, not empty), so
        # same-block-0 pairs scored 4x — a dict comparison alone
        # collapses the duplicates and cannot see it
        assert len(rows) == len(blas), f"block_size={bs}: duplicate pairs"
    assert len(sql) > 50  # the comparison is not vacuous


def _serial_bqsr(recs, ref, min_reported_q=3):
    """Independent serial BQSR walk: regex CIGAR parse, dict reference,
    plain-Python covariates. Shares nothing with the Spark plan."""
    import math
    import re as _re
    from collections import defaultdict

    COMP = str.maketrans("ACGTN", "TGCAN")
    EXCL = 0x4 | 0x100 | 0x200 | 0x400
    acc = defaultdict(lambda: [0, 0])
    for d in recs:
        if d["contig"] is None or d["start"] is None or d["flags"] & EXCL:
            continue
        cig, seq, q = d["cigar"], d["seq"], d["qual"]
        if not cig or cig == "*" or not seq or not q or q == "*":
            continue
        rg = d.get("read_group") or "default"
        L = len(seq)
        rev = bool(d["flags"] & 16)
        second = bool(d["flags"] & 128)
        ro = qo = 0
        for m in _re.finditer(r"(\d+)([MIDNSHP=X])", cig):
            n, op = int(m.group(1)), m.group(2)
            if op in "M=X":
                for i in range(n):
                    pos, qi = d["start"] + ro + i, qo + i
                    base, qv = seq[qi].upper(), ord(q[qi]) - 33
                    if qv < min_reported_q or base not in "ACGT":
                        continue
                    refbase = ref[d["contig"]][pos - 1].upper()
                    if refbase not in "ACGT":
                        continue
                    cycle0 = (L - qi) if rev else (qi + 1)
                    cycle = -cycle0 if second else cycle0
                    if rev:
                        prev_raw = seq[qi + 1].upper() if qi + 1 < L else None
                        prev = prev_raw.translate(COMP) if prev_raw else None
                        cur = base.translate(COMP)
                    else:
                        prev_raw = seq[qi - 1].upper() if qi > 0 else None
                        prev = prev_raw
                        cur = base
                    err = 1 if base != refbase else 0
                    keys = [("q", ""), ("cycle", str(cycle))]
                    if cycle0 != 1 and prev_raw in ("A", "C", "G", "T"):
                        keys.append(("context", prev + cur))
                    for cn, cv in keys:
                        a = acc[(rg, qv, cn, cv)]
                        a[0] += 1
                        a[1] += err
            if op in "M=XDN":
                ro += n
            if op in "M=XIS":
                qo += n
    return {
        k: (n, mm, round(-10 * math.log10((mm + 1) / (n + 2)), 4))
        for k, (n, mm) in acc.items()
    }


@needs_reference
def test_bqsr_table_matches_serial_walk(spark, fixtures_dir):
    import os

    from disq_spark.operators.genomics import bqsr_table
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(fixtures_dir, "valid.fasta")
    df, _h = read_cram(spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta)
    got = {
        (r.read_group, r.q, r.covariate_name, r.covariate_value): (
            r.n_observations, r.n_mismatches, r.empirical_q,
        )
        for r in bqsr_table(df, read_fasta_windows(spark, fasta, window=1000)).collect()
    }
    ref = {}
    name, buf = None, []
    for line in open(fasta):
        line = line.strip()
        if line.startswith(">"):
            if name:
                ref[name] = "".join(buf)
            name, buf = line[1:].split()[0], []
        else:
            buf.append(line)
    if name:
        ref[name] = "".join(buf)
    want = _serial_bqsr([r.asDict() for r in df.collect()], ref)
    assert got == want
    assert len(got) > 400  # 8 reads x 101bp genuinely populate the table


def test_bqsr_table_covariate_semantics(spark):
    """Strand/pair covariate conventions on a hand-built alignment:
    reverse reads flip cycle and complement context; second-of-pair
    negates cycle; mismatches counted against the reference."""
    from disq_spark.operators.genomics import bqsr_table

    # ref: pos 1..8 = ACGTACGT
    ref_w = spark.createDataFrame(
        [("c", 1, "ACGTACGT")], "contig string, start long, seq string"
    )
    reads = spark.createDataFrame(
        [
            # forward read, first of pair: bases ACGG at pos 1-4 (G@4 is a mismatch vs T)
            ("f1", 0x40 | 0x1, "c", 1, 4, 60, "4M", "ACGG", "IIII", None),
            # reverse read, second of pair at pos 5-8: ACGT matches ref exactly
            ("r1", 0x10 | 0x80 | 0x1, "c", 5, 8, 60, "4M", "ACGT", "IIII", None),
        ],
        "name string, flags int, contig string, start long, end long, mapq int, "
        "cigar string, seq string, qual string, read_group string",
    )
    rows = bqsr_table(reads, ref_w).collect()
    t = {(r.q, r.covariate_name, r.covariate_value): (r.n_observations, r.n_mismatches) for r in rows}
    # forward first-of-pair: cycles 1..4 positive; mismatch only at cycle 4
    # (the reverse mate's cycles are all negated, so "1" is fwd-only)
    assert t[(40, "cycle", "1")] == (1, 0)
    assert t[(40, "cycle", "4")][1] >= 1
    # second-of-pair reverse read: machine cycle 1 is the LAST base (T@8),
    # negated -> "-1"; all its bases match the reference
    assert t[(40, "cycle", "-1")] == (1, 0)
    assert t[(40, "cycle", "-4")] == (1, 0)
    # context of fwd read at cycle 2 is "AC"; mismatch base G@4 has context "GG"
    assert t[(40, "context", "AC")][0] >= 1
    assert t[(40, "context", "GG")] == (1, 1)
    # reverse-strand context: machine order is revcomp(ACGT) = ACGT; cycle 2
    # current base = comp(G)=C preceded by comp(T)=A -> "AC"
    # q-marginal totals: 8 bases, 1 mismatch
    assert t[(40, "q", "")] == (8, 1)


@needs_reference
def test_apply_bqsr_matches_serial(spark, fixtures_dir):
    """ApplyBQSR delta composition cross-checked base-by-base by an
    independent serial recalibration over the fixture reads."""
    import math
    import os

    from disq_spark.operators.genomics import apply_bqsr, bqsr_table
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(fixtures_dir, "valid.fasta")
    df, _h = read_cram(spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta)
    table = bqsr_table(df, read_fasta_windows(spark, fasta, window=1000)).collect()
    # key by (name, flags): paired mates share a QNAME
    got = {(r.name, r.flags): r.qual for r in apply_bqsr(df, table).collect()}

    emp_q, emp_cyc, emp_ctx = {}, {}, {}
    for r in table:
        k = (r.read_group, r.q)
        if r.covariate_name == "q":
            emp_q[k] = r.empirical_q
        elif r.covariate_name == "cycle":
            emp_cyc[k + (r.covariate_value,)] = r.empirical_q
        else:
            emp_ctx[k + (r.covariate_value,)] = r.empirical_q

    COMP = str.maketrans("ACGTN", "TGCAN")
    changed = 0
    for rec in df.collect():
        d = rec.asDict()
        seq, qual = d["seq"], d["qual"]
        rg = d.get("read_group") or "default"
        L = len(seq)
        rev = bool(d["flags"] & 16)
        second = bool(d["flags"] & 128)
        out = []
        for i, ch in enumerate(qual):
            q = ord(ch) - 33
            if (rg, q) not in emp_q:
                out.append(ch)
                continue
            base_emp = emp_q[(rg, q)]
            cycle0 = (L - i) if rev else (i + 1)
            cycle = -cycle0 if second else cycle0
            if rev:
                prev_raw = seq[i + 1].upper() if i + 1 < L else ""
            else:
                prev_raw = seq[i - 1].upper() if i > 0 else ""
            ctx = None
            if cycle0 != 1 and prev_raw in "ACGT" and prev_raw:
                if rev:
                    ctx = prev_raw.translate(COMP) + seq[i].upper().translate(COMP)
                else:
                    ctx = prev_raw + seq[i].upper()
            d_cyc = emp_cyc.get((rg, q, str(cycle)), base_emp) - base_emp
            d_ctx = emp_ctx.get((rg, q, ctx), base_emp) - base_emp if ctx else 0.0
            # mimic SQL round() (half away from zero) then clamp
            v = base_emp + d_cyc + d_ctx
            r_v = int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))
            out.append(chr(max(2, min(93, r_v)) + 33))
        want = "".join(out)
        if want != qual:
            changed += 1
        assert got[(d["name"], d["flags"])] == want, d["name"]
    assert changed >= 4  # recalibration genuinely rewrote quals


def test_apply_bqsr_passthrough_without_table_entry(spark):
    from disq_spark.operators.genomics import apply_bqsr

    reads = spark.createDataFrame(
        [("r1", 0, "c", 1, 4, 60, "4M", "ACGT", "IIII", None)],
        "name string, flags int, contig string, start long, end long, mapq int, "
        "cigar string, seq string, qual string, read_group string",
    )
    out = apply_bqsr(reads, []).collect()
    assert out[0].qual == "IIII"


def _vc_rows(spark, rows):
    """rows: (contig, start, ref, alts, [(sample, gt), ...])"""
    from disq_spark.schemas import VARIANTS_SCHEMA

    data = []
    for contig, start, ref, alts, gts in rows:
        data.append(
            (
                contig, start, start + len(ref) - 1, None, ref, alts, None, [],
                {},
                [{"sample": s, "gt": g, "attrs": {}} for s, g in gts],
            )
        )
    return spark.createDataFrame(data, VARIANTS_SCHEMA)


def test_genotype_concordance_states_and_allele_matching(spark):
    from disq_spark.operators.variant_qc import genotype_concordance

    truth = _vc_rows(spark, [
        ("1", 100, "A", ["G"], [("S", "0/0")]),          # HOM_REF both
        ("1", 200, "C", ["T"], [("S", "0/1")]),          # HET, eval spells it 1|0 w/ reordered alts
        ("1", 300, "G", ["A"], [("S", "1/1")]),          # HOM_VAR vs eval HET
        ("1", 400, "T", ["C"], [("S", "0/1")]),          # truth-only site
        ("1", 600, "A", ["G"], [("S", ".")]),            # MISSING vs HOM_REF
    ])
    ev = _vc_rows(spark, [
        ("1", 100, "A", ["G"], [("S", "0/0")]),
        ("1", 200, "C", ["G", "T"], [("S", "2|0")]),     # resolved {C,T} == truth {C,T}
        ("1", 300, "G", ["A"], [("S", "0/1")]),
        ("1", 500, "C", ["A"], [("S", "1/1")]),          # eval-only site
        ("1", 600, "A", ["G"], [("S", "0/0")]),
    ])
    got = {
        (r.truth_state, r.eval_state): (r.n_sites, r.n_gt_match)
        for r in genotype_concordance(truth, ev, "S", "S").collect()
    }
    assert got[("HOM_REF", "HOM_REF")] == (1, 1)
    assert got[("HET", "HET")] == (1, 1)        # allele-resolved despite 2|0 spelling
    assert got[("HOM_VAR", "HET")] == (1, 0)
    assert got[("HET", "NO_SITE")] == (1, 0)
    assert got[("NO_SITE", "HOM_VAR")] == (1, 0)
    assert got[("MISSING", "HOM_REF")] == (1, 0)
    assert sum(n for n, _ in got.values()) == 6


def test_genotype_concordance_multisample_join(spark):
    from disq_spark.operators.variant_qc import genotype_concordance

    truth = _vc_rows(spark, [
        ("1", 100, "A", ["G"], [("s1", "0/1"), ("s2", "1/1")]),
    ])
    ev = _vc_rows(spark, [
        ("1", 100, "A", ["G"], [("s1", "0/1"), ("s2", "0/1")]),
    ])
    got = {
        (r.truth_state, r.eval_state): (r.n_sites, r.n_gt_match)
        for r in genotype_concordance(truth, ev).collect()
    }
    # samples matched by name: s1 concordant HET, s2 HOM_VAR->HET
    assert got[("HET", "HET")] == (1, 1)
    assert got[("HOM_VAR", "HET")] == (1, 0)


@needs_reference
def test_genotype_concordance_self_is_diagonal(spark, fixtures_dir):
    import os

    from disq_spark.operators.variant_qc import genotype_concordance
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz"))
    rows = genotype_concordance(df, df, "NA12878", "NA12878").collect()
    for r in rows:
        assert r.truth_state == r.eval_state
        if r.truth_state not in ("MISSING", "NO_SITE"):
            assert r.n_gt_match == r.n_sites
    assert sum(r.n_sites for r in rows) == 8171


def test_split_multiallelics(spark):
    from disq_spark.operators.variant_qc import split_multiallelics

    df = _vc_rows(spark, [
        ("1", 100, "A", ["G", "T"], [("S", "1/2"), ("T", "0|1"), ("U", "./.")]),
        ("1", 200, "C", ["T"], [("S", "0/1"), ("T", "1/1"), ("U", "0/0")]),
    ])
    df = df.withColumn(
        "info",
        F.when(F.col("start") == 100, F.create_map(
            F.lit("AF"), F.lit("0.5,0.25"), F.lit("DP"), F.lit("10"))
        ).otherwise(F.col("info")),
    )
    out = split_multiallelics(df).orderBy("start", F.col("alts")[0]).collect()
    assert len(out) == 3
    r1, r2, r3 = out
    # multiallelic site split into G-row and T-row
    assert (r1.start, r1.ref, r1.alts) == (100, "A", ["G"])
    gts = {g.sample: g.gt for g in r1.genotypes}
    assert gts == {"S": "1/0", "T": "0/1", "U": "./."}
    assert r1.info["AF"] == "0.5" and r1.info["DP"] == "10"
    assert (r2.start, r2.ref, r2.alts) == (100, "A", ["T"])
    gts = {g.sample: g.gt for g in r2.genotypes}
    assert gts == {"S": "0/1", "T": "0/0", "U": "./."}
    assert r2.info["AF"] == "0.25"
    # biallelic passes through untouched (original phasing kept)
    assert (r3.start, r3.alts) == (200, ["T"])
    assert {g.sample: g.gt for g in r3.genotypes}["T"] == "1/1"


def test_trim_variants_parsimony(spark):
    from disq_spark.operators.variant_qc import trim_variants

    df = _vc_rows(spark, [
        ("1", 100, "GTC", ["G"], [("S", "0/1")]),       # already minimal (suffix differs)
        ("1", 200, "CTCC", ["CCC", "C"], [("S", "1/2")]),  # bcftools doc example
        ("1", 300, "TA", ["GA"], [("S", "0/1")]),        # shared suffix A -> SNP T>G
        ("1", 400, "ACGT", ["ACGA"], [("S", "0/1")]),    # shared prefix ACG -> pos+3
        ("1", 500, "A", ["<NON_REF>"], [("S", "0/0")]),  # symbolic passthrough
    ])
    rows = sorted(trim_variants(df).collect(), key=lambda r: (r.contig, r.start))
    # (100) GTC>G unchanged
    assert (rows[0].start, rows[0].ref, rows[0].alts, rows[0].end) == (100, "GTC", ["G"], 102)
    # (200) CTCC>CCC,C: shared suffix CC trimmed -> CT>C,(C? no: C stays C),
    # bcftools: CTCC>CCC,C trims to CT>C? multi-alt shared trim: suffix shared by
    # CTCC/CCC/C is 'CC' capped by shortest alt (C, cap 0) -> suf=0; prefix 'C'
    # shared -> CTCC>CCC,C becomes TCC>CC,(empty? no, cap keeps >=1) pre capped
    # at min(len)-1 per alt: alt 'C' cap 0 -> pre=0. Row unchanged.
    assert (rows[1].ref, rows[1].alts) == ("CTCC", ["CCC", "C"])
    # (300) TA>GA: suffix A trimmed, becomes T>G SNP at same pos
    assert (rows[2].start, rows[2].ref, rows[2].alts, rows[2].end) == (300, "T", ["G"], 300)
    # (400) ACGT>ACGA: prefix ACG trimmed, pos advances 3
    assert (rows[3].start, rows[3].ref, rows[3].alts, rows[3].end) == (403, "T", ["A"], 403)
    # (500) symbolic untouched
    assert (rows[4].ref, rows[4].alts) == ("A", ["<NON_REF>"])


def test_split_then_trim_normalizes(spark):
    """The bcftools norm -m- pipeline: split first, then per-alt trim."""
    from disq_spark.operators.variant_qc import split_multiallelics, trim_variants

    df = _vc_rows(spark, [
        ("1", 200, "CTCC", ["CCC", "C"], [("S", "1/2")]),
    ])
    rows = sorted(trim_variants(split_multiallelics(df)).collect(), key=lambda r: r.ref)
    # after split: CTCC>CCC and CTCC>C
    # CTCC>CCC: shared suffix CC (cap min-1=2) -> CT>C at 200, end 201
    # CTCC>C:   caps at min(4,1)-1=0 on both runs -> unchanged
    assert (rows[0].start, rows[0].ref, rows[0].alts, rows[0].end) == (200, "CT", ["C"], 201)
    assert (rows[1].start, rows[1].ref, rows[1].alts) == (200, "CTCC", ["C"])
    # GT remaps carried through the split: 1/2 -> 1/0 (CCC row) and 0/1 (C row)
    assert {g.sample: g.gt for g in rows[0].genotypes} == {"S": "1/0"}
    assert {g.sample: g.gt for g in rows[1].genotypes} == {"S": "0/1"}


def _serial_norm(recs):
    """Independent serial split+trim: text-level, shares nothing with
    the Spark expressions. recs: (contig, pos, ref, alts) tuples with
    alts possibly None. Returns list of (contig, pos, ref, alt)."""
    out = []
    for contig, pos, ref, alts in recs:
        if not alts:
            out.append((contig, pos, ref, None))
            continue
        for alt in alts:
            r, a, p = ref, alt, pos
            if not (a.startswith("<") or "[" in a or "]" in a):
                # suffix trim, keep >= 1 base each
                while len(r) > 1 and len(a) > 1 and r[-1] == a[-1]:
                    r, a = r[:-1], a[:-1]
                # prefix trim
                while len(r) > 1 and len(a) > 1 and r[0] == a[0]:
                    r, a, p = r[1:], a[1:], p + 1
            out.append((contig, p, r, a))
    return out


@needs_reference
def test_normalize_matches_serial_on_gvcf(spark, fixtures_dir):
    import gzip
    import os
    from collections import Counter

    from disq_spark.operators.variant_qc import split_multiallelics, trim_variants
    from disq_spark.sources.variants import read_vcf

    path = os.path.join(fixtures_dir, "CEUTrio.20.21.gatk3.4.g.vcf.bgz")
    df, _h = read_vcf(spark, path)
    norm = trim_variants(split_multiallelics(df))
    got = Counter(
        (r.contig, r.start, r.ref, r.alts[0] if r.alts else None)
        for r in norm.collect()
    )
    recs = []
    with gzip.open(path, "rt") as fh:
        for line in fh:
            if line.startswith("#"):
                continue
            f = line.rstrip("\n").split("\t")
            alts = None if f[4] == "." else f[4].split(",")
            recs.append((f[0], int(f[1]), f[3], alts))
    want = Counter(_serial_norm(recs))
    assert got == want
    assert sum(want.values()) > 19910  # splitting genuinely fans out


def _serial_left_align(genome: str, pos: int, ref: str, alt: str, max_shift: int = 200):
    """bcftools norm realign loop (chop equal last bases; on empty
    allele extend left from the reference), extension-count bounded."""
    r, a, p, shifts = ref.upper(), alt.upper(), pos, 0
    while True:
        if (len(r) > 1 or len(a) > 1) and r[-1] == a[-1]:
            r, a = r[:-1], a[:-1]
            if not r or not a:
                if p == 1 or shifts >= max_shift:
                    b = genome[p - 1].upper() if not r else r[0]
                    # cannot extend: restore the chopped state and stop
                    r, a = (b + r, b + a) if False else (ref.upper(), alt.upper())
                    return pos, ref.upper(), alt.upper()
                p -= 1
                b = genome[p - 1].upper()
                r, a = b + r, b + a
                shifts += 1
            continue
        break
    return p, r, a


def _write_fasta(path, contigs: dict):
    width = 60
    with open(path, "w") as f, open(path + ".fai", "w") as fai:
        offset = 0
        for name, seq in contigs.items():
            hdr = f">{name}\n"
            f.write(hdr)
            offset += len(hdr)
            for i in range(0, len(seq), width):
                f.write(seq[i : i + width] + "\n")
            fai.write(f"{name}\t{len(seq)}\t{offset}\t{width}\t{width + 1}\n")
            offset += len(seq) + len(seq) // width + (1 if len(seq) % width else 0)


def test_left_align_matches_serial_random(spark, tmp_path):
    """Random repeat-rich genome + right-shifted pure indels: the
    distributed closed-form shift must equal the serial bcftools loop,
    across fasta window boundaries (window=97 forces context spans)."""
    import random

    from disq_spark.operators.variant_qc import left_align_variants

    rng = random.Random(77)
    # biased alphabet -> long homopolymer / dinucleotide runs
    genome = "".join(rng.choice("AATTACGT") for _ in range(3000))
    fa = str(tmp_path / "rep.fa")
    _write_fasta(fa, {"c1": genome})

    rows = []
    for _ in range(120):
        p = rng.randrange(50, len(genome) - 50)
        m = rng.randrange(1, 6)
        if rng.random() < 0.5:  # deletion of genome[p+1 .. p+m]
            ref = genome[p - 1 : p + m]
            alt = genome[p - 1]
        else:  # insertion after p, often a copy of adjacent sequence
            ins = (
                genome[p : p + m]
                if rng.random() < 0.7
                else "".join(rng.choice("ACGT") for _ in range(m))
            )
            ref = genome[p - 1]
            alt = genome[p - 1] + ins
        rows.append(("c1", p, p + len(ref) - 1, None, ref, [alt], None, None, None, None))

    from disq_spark.schemas import VARIANTS_SCHEMA

    df = spark.createDataFrame(rows, VARIANTS_SCHEMA)
    got = {
        (r.start, r.ref, tuple(r.alts)): None
        for r in left_align_variants(df, spark, fa, max_shift=200, window=97).collect()
    }
    want = {}
    for _, p, _e, _i, ref, alts, *_ in rows:
        np_, nr, na = _serial_left_align(genome, p, ref, alts[0])
        want[(np_, nr, (na,))] = None
    assert sorted(got) == sorted(want)


def test_left_align_passthrough_and_cap(spark, tmp_path):
    from disq_spark.operators.variant_qc import left_align_variants
    from disq_spark.schemas import VARIANTS_SCHEMA

    genome = "A" * 400 + "CGT" * 40
    fa = str(tmp_path / "homo.fa")
    _write_fasta(fa, {"c1": genome})
    rows = [
        # pure insertion of A inside the A-run: shifts left but stops at max_shift
        ("c1", 300, 300, None, "A", ["AA"], None, None, None, None),
        # SNP: untouched
        ("c1", 410, 410, None, "G", ["C"], None, None, None, None),
        # symbolic: untouched
        ("c1", 420, 420, None, "T", ["<DEL>"], None, None, None, None),
        # multiallelic: untouched (split first)
        ("c1", 430, 432, None, "CGT", ["C", "CGTCGT"], None, None, None, None),
    ]
    df = spark.createDataFrame(rows, VARIANTS_SCHEMA)
    out = {tuple(r.alts or []): (r.start, r.ref) for r in left_align_variants(
        df, spark, fa, max_shift=50, window=100
    ).collect()}
    assert out[("AA",)] == (250, "A")  # capped at max_shift=50, not POS 1
    assert out[("C",)] == (410, "G")
    assert out[("<DEL>",)] == (420, "T")
    assert out[("C", "CGTCGT")] == (430, "CGT")


def test_insert_size_metrics_matches_serial(spark, gen_reads):
    """Histogram + summary cross-checked by an independent serial pass
    implementing Picard's collector (first-of-pair representative,
    same-contig mapped pairs, TLEN != 0, MAD-trimmed moments)."""
    for src, _n in bam_inputs(gen_reads):
        _check_insert_size_metrics_matches_serial(spark, src)


def _check_insert_size_metrics_matches_serial(spark, src):
    import math
    import os
    from collections import Counter

    from disq_spark.operators.genomics import (
        insert_size_histogram,
        insert_size_metrics,
    )
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, src)

    by_orient = {}
    for r in df.collect():
        f = r.flags
        if not (f & 0x1) or (f & 0x4) or (f & 0x8) or not (f & 0x40):
            continue
        if f & (0x100 | 0x800 | 0x400):
            continue
        if not r.template_len:
            continue
        if r.mate_contig not in (None, "=", r.contig):
            continue
        rev, mrev = bool(f & 0x10), bool(f & 0x20)
        if rev == mrev:
            o = "TANDEM"
        else:
            pos5 = r.mate_start if rev else r.start
            neg5 = r.end if rev else r.mate_start + abs(r.template_len) - 1
            o = "FR" if pos5 < neg5 else "RF"
        by_orient.setdefault(o, []).append(abs(r.template_len))

    got_h = {
        (r.orientation, r.insert_size): r.n_pairs
        for r in insert_size_histogram(df).collect()
    }
    want_h = {}
    for o, xs in by_orient.items():
        for v, n in Counter(xs).items():
            want_h[(o, v)] = n
    assert got_h == want_h

    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        return (xs[(n - 1) // 2] + xs[n // 2]) / 2

    got_m = {r.orientation: r for r in insert_size_metrics(df).collect()}
    assert set(got_m) == set(by_orient)
    for o, xs in by_orient.items():
        med = median(xs)
        mad = median([abs(x - med) for x in xs])
        core = [x for x in xs if abs(x - med) <= 10 * mad]
        mean = sum(core) / len(core)
        r = got_m[o]
        assert r.read_pairs == len(xs)
        assert r.median_insert_size == med
        assert r.median_absolute_deviation == mad
        assert (r.min_insert_size, r.max_insert_size) == (min(xs), max(xs))
        assert abs(r.mean_insert_size - mean) < 1e-9
        assert r.trimmed_pairs == len(core)
        if len(core) > 1:
            sd = math.sqrt(
                (sum(x * x for x in core) - len(core) * mean * mean) / (len(core) - 1)
            )
            assert abs(r.standard_deviation - sd) < 1e-6
        cnt = Counter(xs)
        best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        assert r.mode_insert_size == best


def test_alignment_summary_metrics_matches_serial(spark, gen_reads):
    """Per-category counters cross-checked by a serial Picard-style
    pass over the collected fixture reads (NM-tag substitution rate
    excludes indel bases; PAIR is the first+second rollup)."""
    for src, _n in bam_inputs(gen_reads):
        _check_alignment_summary_metrics_matches_serial(spark, src)


def _check_alignment_summary_metrics_matches_serial(spark, src):
    import os
    import re

    from disq_spark.operators.genomics import alignment_summary_metrics
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, src)
    agg = {}

    def bump(cat, **kw):
        a = agg.setdefault(
            cat,
            dict(
                total=0, pf=0, aligned=0, hq=0, in_pair=0, fwd=0,
                len_sum=0, len_n=0, subs=0, nm_bases=0, chim=0,
            ),
        )
        for k, v in kw.items():
            a[k] += v

    for r in df.collect():
        f = r.flags
        if f & (0x100 | 0x800):
            continue
        paired = bool(f & 0x1)
        cats = (
            ["UNPAIRED"]
            if not paired
            else (["FIRST_OF_PAIR", "PAIR"] if f & 0x40 else ["SECOND_OF_PAIR", "PAIR"])
        )
        pf = not (f & 0x200)
        mapped = not (f & 0x4)
        in_pair = mapped and not (f & 0x8) and paired
        nm = None
        if r.tags and "NM" in r.tags:
            nm = int(r.tags["NM"].split(":")[-1])
        ab = ind = 0
        for n, op in re.findall(r"(\d+)([MIDNSHP=X])", r.cigar or ""):
            if op in "M=X":
                ab += int(n)
            if op in "ID":
                ind += int(n)
        chim = in_pair and (
            (r.mate_contig not in (None, "=", r.contig))
            or abs(r.template_len or 0) > 100_000
        )
        for c in cats:
            bump(
                c,
                total=1,
                pf=pf,
                aligned=pf and mapped,
                hq=pf and mapped and r.mapq >= 20,
                in_pair=pf and in_pair,
                fwd=pf and mapped and not (f & 0x10),
                len_sum=len(r.seq) if r.seq and r.seq != "*" else 0,
                len_n=1 if r.seq and r.seq != "*" else 0,
                subs=(max(nm - ind, 0) if (pf and mapped and nm is not None) else 0),
                nm_bases=(ab if (pf and mapped and nm is not None) else 0),
                chim=pf and chim,
            )

    got = {r.category: r for r in alignment_summary_metrics(df).collect()}
    assert set(got) == set(agg)
    for c, a in agg.items():
        g = got[c]
        assert g.total_reads == a["total"]
        assert g.pf_reads == a["pf"]
        assert g.pf_reads_aligned == a["aligned"]
        assert g.pf_hq_aligned_reads == a["hq"]
        assert g.reads_aligned_in_pairs == a["in_pair"]
        if a["aligned"]:
            assert abs(g.strand_balance - a["fwd"] / a["aligned"]) < 1e-12
        if a["len_n"]:
            assert abs(g.mean_read_length - a["len_sum"] / a["len_n"]) < 1e-9
        if a["nm_bases"]:
            assert abs(g.pf_mismatch_rate - a["subs"] / a["nm_bases"]) < 1e-12
        if a["in_pair"]:
            assert abs(g.pct_chimeras - a["chim"] / a["in_pair"]) < 1e-12


@needs_reference
def test_merge_variant_sets_roundtrip(spark, fixtures_dir):
    """Splitting the 3-sample spec fixture into per-sample sets and
    merging back must reproduce every site, ALT list, and genotype
    (phasing separators included), with AN/AC recomputed."""
    import os

    from disq_spark.operators.variant_qc import merge_variant_sets
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(fixtures_dir, "test.vcf"))
    singles = [
        df.withColumn(
            "genotypes",
            F.expr(f"filter(genotypes, g -> g.sample = '{s}')"),
        )
        for s in ("NA00001", "NA00002", "NA00003")
    ]
    merged = merge_variant_sets(singles)
    want = {
        (r.contig, r.start, r.ref): r
        for r in df.collect()
    }
    got = {(r.contig, r.start, r.ref): r for r in merged.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.alts == w.alts, k
        assert g.end == w.start + len(w.ref) - 1
        assert sorted((x.sample, x.gt) for x in g.genotypes) == sorted(
            (x.sample, x.gt) for x in w.genotypes
        ), k
        # AN/AC recomputed from genotypes
        called = [
            a
            for x in w.genotypes
            if x.gt
            for a in x.gt.replace("|", "/").split("/")
            if a != "."
        ]
        assert int(g.info["AN"]) == len(called), k
        if w.alts:
            ac = [sum(1 for a in called if a == str(i + 1)) for i in range(len(w.alts))]
            assert g.info["AC"] == ",".join(str(c) for c in ac), k


def test_merge_variant_sets_alt_remap(spark):
    """Inputs carrying different ALTs at one site: merged ALT order is
    first-appearance (input order), and each input's GT indexes are
    remapped -- input B's '1' (alt T) becomes '2' in the merged row.
    A site absent from input B back-fills its sample as './.'."""
    from disq_spark.operators.variant_qc import merge_variant_sets
    from disq_spark.schemas import VARIANTS_SCHEMA

    a = spark.createDataFrame(
        [
            ("1", 100, 100, None, "A", ["G"], 50.0, None, None,
             [("s1", "0|1", None)]),
            ("1", 200, 200, None, "C", ["T"], 60.0, None, None,
             [("s1", "1/1", None)]),
        ],
        VARIANTS_SCHEMA,
    )
    b = spark.createDataFrame(
        [
            ("1", 100, 100, None, "A", ["T", "G"], 70.0, None, None,
             [("s2", "1|2", None)]),
        ],
        VARIANTS_SCHEMA,
    )
    got = {r.start: r for r in merge_variant_sets([a, b]).collect()}
    r100 = got[100]
    assert r100.alts == ["G", "T"]  # input-a's G first, then b's T
    gts = {g.sample: g.gt for g in r100.genotypes}
    assert gts == {"s1": "0|1", "s2": "2|1"}  # b's 1->T->2, 2->G->1
    assert r100.qual == 70.0
    assert r100.info["AN"] == "4" and r100.info["AC"] == "2,1"
    assert r100.info["AF"] == "0.5,0.25"
    r200 = got[200]
    gts = {g.sample: g.gt for g in r200.genotypes}
    assert gts == {"s1": "1/1", "s2": "./."}
    assert r200.info["AN"] == "2" and r200.info["AC"] == "2"


def test_hard_filter_gatk_semantics(spark):
    from disq_spark.operators.variant_qc import hard_filter
    from disq_spark.schemas import VARIANTS_SCHEMA

    rows = [
        ("1", 1, 1, None, "A", ["G"], 10.0, None, {"QD": "1.5", "FS": "70.0"}, None),
        ("1", 2, 2, None, "A", ["G"], 10.0, None, {"QD": "30.0", "FS": "1.0"}, None),
        # missing QD: expression NULL -> not failing
        ("1", 3, 3, None, "A", ["G"], 10.0, None, {"FS": "90.0"}, None),
        # malformed value -> try_cast null -> not failing
        ("1", 4, 4, None, "A", ["G"], 10.0, ["OLD"], {"QD": "abc"}, None),
    ]
    df = spark.createDataFrame(rows, VARIANTS_SCHEMA)
    out = {
        r.start: sorted(r.filters)
        for r in hard_filter(
            df, {"QD2": "QD < 2.0", "FS60": "FS > 60.0"}
        ).collect()
    }
    assert out[1] == ["FS60", "QD2"]
    assert out[2] == []
    assert out[3] == ["FS60"]
    assert out[4] == ["OLD"]


@needs_reference
def test_mendelian_violations_matches_serial(spark, fixtures_dir):
    """Trio tally cross-checked against a serial allele-set check on
    the 3-sample spec fixture (treating NA00001 as child of the other
    two) plus synthetic forced-violation rows."""
    import os

    from disq_spark.operators.variant_qc import mendelian_violations
    from disq_spark.schemas import VARIANTS_SCHEMA
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(fixtures_dir, "test.vcf"))
    extra = spark.createDataFrame(
        [
            # child 1/1 but father 0/0, mother 0/0 -> violation
            ("21", 5, 5, None, "A", ["G"], None, None, None,
             [("NA00001", "1/1", None), ("NA00002", "0/0", None),
              ("NA00003", "0/0", None)]),
            # child 0/1, father 0/0, mother 1/1 -> fine
            ("21", 6, 6, None, "A", ["G"], None, None, None,
             [("NA00001", "0/1", None), ("NA00002", "0/0", None),
              ("NA00003", "1/1", None)]),
            # child has missing gt -> uncalled
            ("21", 7, 7, None, "A", ["G"], None, None, None,
             [("NA00001", "./.", None), ("NA00002", "0/0", None),
              ("NA00003", "0/0", None)]),
        ],
        VARIANTS_SCHEMA,
    )
    all_df = df.unionByName(extra)
    trio = [("NA00001", "NA00002", "NA00003")]
    got = mendelian_violations(all_df, trio).collect()[0]

    def alle(gt):
        return gt.replace("|", "/").split("/") if gt else None

    n_sites = n_called = n_viol = 0
    for r in all_df.collect():
        gts = {g.sample: g.gt for g in (r.genotypes or [])}
        n_sites += 1
        c, fa, mo = (alle(gts.get(s)) for s in trio[0])
        if not c or not fa or not mo or "." in c + fa + mo:
            continue
        n_called += 1
        if len(c) == 2 and not any(
            sorted([pa, ma]) == sorted(c) for pa in fa for ma in mo
        ):
            n_viol += 1
    assert (got.n_sites, got.n_called, got.n_violations) == (
        n_sites, n_called, n_viol
    )
    assert n_viol >= 1


def test_wgs_metrics_matches_serial(spark, gen_reads):
    """Depth histogram statistics cross-checked by a serial per-position
    depth array over the fixture reads (Picard-style read filters)."""
    for src, _n in bam_inputs(gen_reads):
        _check_wgs_metrics_matches_serial(spark, src)


def _check_wgs_metrics_matches_serial(spark, src):
    import math
    import os

    from disq_spark.operators.genomics import wgs_metrics
    from disq_spark.sources.bam_source import read_bam, read_bam_header

    df, header = read_bam(spark, src)
    refs = header.sequences
    got = {r.metric: r.value for r in wgs_metrics(df, refs, coverage_cap=100).collect()}

    # reference contigs are hundreds of Mbp: walk only covered windows,
    # account the untouched territory as zeros arithmetically
    from collections import defaultdict

    events = defaultdict(lambda: defaultdict(int))
    for r in df.collect():
        f = r.flags
        if f & (0x4 | 0x100 | 0x800 | 0x400 | 0x200) or r.mapq < 20:
            continue
        events[r.contig][r.start] += 1
        events[r.contig][r.end + 1] -= 1
    vals = []
    covered_positions = 0
    for name, ev in events.items():
        acc = 0
        last = None
        for p in sorted(ev):
            if acc > 0 and last is not None:
                vals.extend([min(acc, 100)] * (p - last))
                covered_positions += p - last
            acc += ev[p]
            last = p
    genome_len = sum(ln for _n, ln in refs)
    zeros = genome_len - len(vals)
    n = genome_len
    assert got["genome_territory"] == n
    mean = sum(vals) / n
    assert abs(got["mean_coverage"] - round(mean, 6)) < 1e-9
    sd = math.sqrt(sum(v * v for v in vals) / n - mean * mean)
    assert abs(got["sd_coverage"] - round(sd, 6)) < 1e-9
    # median without materializing the zero run
    sv = sorted(vals)
    pick = lambda i: 0 if i < zeros else sv[i - zeros]  # noqa: E731
    med = (pick((n - 1) // 2) + pick(n // 2)) / 2
    assert got["median_coverage"] == med
    for lv in (1, 5, 10, 15, 20):
        pct = sum(1 for v in vals if v >= lv) / n
        assert abs(got[f"pct_{lv}x"] - round(pct, 6)) < 1e-9


def test_isec_variant_sets(spark):
    from disq_spark.operators.variant_qc import isec_variant_sets
    from disq_spark.schemas import VARIANTS_SCHEMA

    def vs(rows):
        return spark.createDataFrame(
            [("1", p, p, None, r, a, None, None, None, None) for p, r, a in rows],
            VARIANTS_SCHEMA,
        )

    a = vs([(100, "A", ["G"]), (200, "C", ["T"]), (300, "G", ["A", "C"])])
    b = vs([(100, "A", ["G"]), (300, "G", ["C", "A"]), (400, "T", ["C"])])
    c = vs([(100, "A", ["T"]), (200, "C", ["T"])])
    got = {
        (r.start, r.alt): (r.sets, r.n_sets)
        for r in isec_variant_sets([a, b, c]).collect()
    }
    assert got[(100, "G")] == ("110", 2)
    assert got[(100, "T")] == ("001", 1)  # different ALT = different record
    assert got[(200, "T")] == ("101", 2)
    assert got[(300, "A,C")] == ("110", 2)  # ALT-set collapse, order-free
    assert got[(400, "C")] == ("010", 1)
    # site-level matching unifies the ALT split at 100
    site = {
        r.start: r.sets
        for r in isec_variant_sets([a, b, c], by_alt=False).collect()
    }
    assert site[100] == "111"


def test_quality_by_cycle_matches_serial(spark, gen_reads):
    """Cycle orientation (reverse-strand flip, second-of-pair negation)
    and composition cross-checked serially on the fixture reads."""
    for src, _n in bam_inputs(gen_reads):
        _check_quality_by_cycle_matches_serial(spark, src)


def _check_quality_by_cycle_matches_serial(spark, src):
    import os
    from collections import defaultdict

    from disq_spark.operators.genomics import quality_by_cycle
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, src)
    agg = defaultdict(lambda: [0, 0, defaultdict(int)])
    COMP = str.maketrans("ACGTN", "TGCAN")
    for r in df.collect():
        f = r.flags
        if f & (0x100 | 0x800):
            continue
        if not r.qual or r.qual == "*":
            continue
        L = len(r.qual)
        rev, second = bool(f & 0x10), bool(f & 0x80)
        for i, ch in enumerate(r.qual):
            c0 = (L - i) if rev else (i + 1)
            c = -c0 if second else c0
            a = agg[c]
            a[0] += 1
            a[1] += ord(ch) - 33
            if not r.seq or r.seq == "*":
                b = "N"
            else:
                b = r.seq[i].upper()
                if rev:
                    b = b.translate(COMP)
            a[2][b if b in "ACGT" else "other"] += 1

    got = {r.cycle: r for r in quality_by_cycle(df).collect()}
    assert set(got) == set(agg)
    for c, (n, qsum, comp) in agg.items():
        g = got[c]
        assert g.n_bases == n
        assert abs(g.mean_quality - round(qsum / n, 4)) < 1e-9
        assert (g.n_a, g.n_c, g.n_g, g.n_t, g.n_other) == (
            comp["A"], comp["C"], comp["G"], comp["T"], comp["other"]
        )


@needs_reference
def test_gc_bias_metrics_matches_serial(spark, fixtures_dir):
    import os
    from collections import Counter

    from disq_spark.formats.gzi import open_indexed_reference, read_fai
    from disq_spark.operators.genomics import gc_bias_metrics
    from disq_spark.sources.cram_source import read_cram

    fasta = os.path.join(fixtures_dir, "valid.fasta")
    df, _h = read_cram(
        spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta
    )
    got = {r.gc: (r.windows, r.read_starts, r.normalized_coverage)
           for r in gc_bias_metrics(df, spark, fasta, window=50).collect()}

    fai = read_fai(fasta + ".fai")
    ref = open_indexed_reference(fasta)
    win_gc = {}
    for name, e in fai.items():
        s = 1
        while s <= e.length:
            seq = ref.get(name, s, min(s + 49, e.length)).upper()
            gc = round(100.0 * sum(1 for ch in seq if ch in "GC") / len(seq))
            win_gc[(name, (s - 1) // 50)] = gc
            s += 50
    starts = Counter()
    for r in df.collect():
        if r.flags & (0x4 | 0x100 | 0x800 | 0x400) or r.contig is None:
            continue
        starts[(r.contig, (r.start - 1) // 50)] += 1
    per_gc = {}
    for k, gc in win_gc.items():
        w, s = per_gc.get(gc, (0, 0))
        per_gc[gc] = (w + 1, s + starts.get(k, 0))
    tw = sum(w for w, _s in per_gc.values())
    ts = sum(s for _w, s in per_gc.values())
    assert set(got) == set(per_gc)
    for gc, (w, s) in per_gc.items():
        g = got[gc]
        assert (g[0], g[1]) == (w, s), gc
        assert abs(g[2] - round((s / w) / (ts / tw), 6)) < 1e-9
    assert ts > 0


def test_interval_algebra_matches_serial(spark):
    """merge/intersect/subtract/complement/jaccard cross-checked by a
    per-position set model on random interval tables spanning chunk
    boundaries (chunk_size exercised via positions around 2^20)."""
    import random

    from disq_spark.operators import intervals as IV

    rng = random.Random(11)

    def gen(n):
        rows = []
        for _ in range(n):
            c = rng.choice(["c1", "c2"])
            s = rng.randrange(1, 3_000_000)
            rows.append((c, s, s + rng.randrange(0, 200_000)))
        return rows

    ra, rb = gen(60), gen(60)
    a = spark.createDataFrame(ra, "contig string, start long, end long")
    b = spark.createDataFrame(rb, "contig string, start long, end long")

    def posset(rows):
        s = set()
        for c, st, en in rows:
            s.update((c, p) for p in range(st, en + 1))
        return s

    pa, pb = posset(ra), posset(rb)

    def to_intervals(ps):
        out = set()
        for c in {c for c, _p in ps}:
            pp = sorted(p for cc, p in ps if cc == c)
            st = prev = pp[0]
            for p in pp[1:]:
                if p != prev + 1:
                    out.add((c, st, prev))
                    st = p
                prev = p
            out.add((c, st, prev))
        return out

    got_merge = {
        (r.contig, r.start, r.end) for r in IV.merge_intervals_table(a).collect()
    }
    assert got_merge == to_intervals(pa)
    got_inter = {
        (r.contig, r.start, r.end) for r in IV.intersect_intervals(a, b).collect()
    }
    assert got_inter == to_intervals(pa & pb)
    got_sub = {
        (r.contig, r.start, r.end) for r in IV.subtract_intervals(a, b).collect()
    }
    assert got_sub == to_intervals(pa - pb)

    refs = [("c1", 3_300_000), ("c2", 3_300_000)]
    got_comp = {
        (r.contig, r.start, r.end)
        for r in IV.complement_intervals(a, refs).collect()
    }
    full = posset([(c, 1, ln) for c, ln in refs])
    assert got_comp == to_intervals(full - pa)

    j = IV.jaccard_intervals(a, b).collect()[0]
    assert j.intersection_bp == len(pa & pb)
    assert j.union_bp == len(pa | pb)
    assert abs(j.jaccard - round(len(pa & pb) / len(pa | pb), 6)) < 1e-12
    assert j.n_intersections == len(to_intervals(pa & pb))


def test_interval_algebra_summary_one_pass(spark):
    """r12: interval_algebra_summary (one tri-depth event pass) returns
    exactly the rows the 6-branch composition of the individual
    operators produced — on random interval tables spanning chunk
    boundaries, including an empty-b corner."""
    import random

    from disq_spark.operators import intervals as IV

    rng = random.Random(12)

    def gen(n):
        rows = []
        for _ in range(n):
            c = rng.choice(["c1", "c2"])
            s = rng.randrange(1, 3_000_000)
            rows.append((c, s, s + rng.randrange(0, 200_000)))
        return rows

    refs = [("c1", 3_300_000), ("c2", 3_300_000)]
    schema = "contig string, start long, end long"

    def composed(a, b):
        parts = []
        for name, t in (
            ("merge", IV.merge_intervals_table(a)),
            ("intersect", IV.intersect_intervals(a, b)),
            ("subtract", IV.subtract_intervals(a, b)),
            ("complement", IV.complement_intervals(a, refs)),
        ):
            parts.append(
                t.agg(
                    F.lit(name).alias("op"),
                    F.count("*").alias("n_intervals"),
                    F.sum("span").alias("total_bp"),
                )
            )
        j = IV.jaccard_intervals(a, b).select(
            F.lit("jaccard").alias("op"),
            F.col("intersection_bp").alias("n_intervals"),
            F.col("union_bp").alias("total_bp"),
        )
        out = parts[0]
        for p in parts[1:] + [j]:
            out = out.unionByName(p)
        return out

    for ra, rb in ((gen(60), gen(60)), (gen(40), [])):
        a = spark.createDataFrame(ra, schema)
        b = spark.createDataFrame(rb, schema)
        want = sorted(map(tuple, composed(a, b).collect()))
        got_df = IV.interval_algebra_summary(a, b, refs)
        got = sorted(map(tuple, got_df.collect()))
        assert got == want
        assert [f.dataType.simpleString() for f in got_df.schema.fields] == [
            "string",
            "bigint",
            "bigint",
        ]


@needs_reference
def test_consensus_sequence_matches_serial(spark, fixtures_dir):
    import os

    from disq_spark.operators.genomics import consensus_sequence, pileup
    from disq_spark.sources.cram_source import read_cram
    from disq_spark.sources.fasta import read_fasta_windows

    fasta = os.path.join(fixtures_dir, "valid.fasta")
    df, _h = read_cram(
        spark, os.path.join(fixtures_dir, "valid.cram"), reference_path=fasta
    )
    pile = pileup(df)
    wins = read_fasta_windows(spark, fasta, window=60)
    got = {
        (r.contig, r.start): r.consensus
        for r in consensus_sequence(pile, wins, min_depth=2).collect()
    }

    calls = {}
    for r in pile.collect():
        if r.depth < 2:
            continue
        counts = [(r.n_a, "A"), (r.n_c, "C"), (r.n_g, "G"), (r.n_t, "T"),
                  (r.n_del, "-")]
        best = max(c for c, _b in counts)
        for c, b in counts:  # first max wins: A<C<G<T<'-'
            if c == best:
                calls[(r.contig, r.pos)] = b
                break
    n_called = 0
    for w in wins.collect():
        cons = got[(w.contig, w.start)]
        assert len(cons) == w.end - w.start + 1
        for i, p in enumerate(range(w.start, w.end + 1)):
            want = calls.get((w.contig, p), w.seq[i].lower())
            assert cons[i] == want, (w.contig, p)
            if (w.contig, p) in calls:
                n_called += 1
    assert n_called > 100  # reads genuinely asserted bases


def test_liftover_matches_serial(spark):
    """Forward/reverse block translation, allele revcomp, containment
    rejection -- checked against a serial block walk."""
    from disq_spark.operators.intervals import liftover
    from disq_spark.schemas import VARIANTS_SCHEMA

    chain_rows = [
        # srcC, srcS, srcE, dstC, dstS, strand
        ("1", 100, 199, "chr1", 1000, "+"),
        ("1", 300, 399, "chr1", 2000, "-"),
        ("2", 1, 50, "chr2", 501, "+"),
    ]
    chain = spark.createDataFrame(
        chain_rows,
        "src_contig string, src_start long, src_end long, "
        "dst_contig string, dst_start long, strand string",
    )
    rows = [
        ("1", 150, 150, None, "A", ["G"], None, None, None, None),   # + SNP
        ("1", 150, 152, None, "ACT", ["A"], None, None, None, None), # + del
        ("1", 350, 351, None, "AC", ["A", "<DEL>"], None, None, None, None),  # - strand
        ("1", 199, 200, None, "GT", ["G"], None, None, None, None),  # straddles -> unmapped
        ("1", 500, 500, None, "T", ["C"], None, None, None, None),   # no block
        ("2", 50, 50, None, "G", ["T"], None, None, None, None),     # block edge
    ]
    df = spark.createDataFrame(rows, VARIANTS_SCHEMA)
    got = {(r.start if not r.lifted else None, r.contig, r.start, r.end,
            r.ref, tuple(r.alts), r.lifted)
           for r in liftover(df, chain).collect()}

    COMP = str.maketrans("ACGTN", "TGCAN")

    def rc(s):
        return s.upper().translate(COMP)[::-1]

    want = set()
    for c0, s0, e0, _i, ref, alts, *_ in rows:
        hit = None
        for sc, ss, se, dc, ds, st in chain_rows:
            if c0 == sc and s0 >= ss and e0 <= se:
                hit = (sc, ss, se, dc, ds, st)
                break
        if hit is None:
            want.add((s0, c0, s0, e0, ref, tuple(alts), False))
            continue
        _sc, ss, se, dc, ds, st = hit
        if st == "+":
            ns = ds + (s0 - ss)
            want.add((None, dc, ns, ns + (e0 - s0), ref, tuple(alts), True))
        else:
            ns = ds + (se - e0)
            want.add((
                None, dc, ns, ns + (e0 - s0), rc(ref),
                tuple(a if a.startswith("<") else rc(a) for a in alts), True,
            ))
    assert got == want


@needs_reference
def test_pairwise_ibs_matches_serial(spark, fixtures_dir):
    import os
    from itertools import combinations

    from disq_spark.operators.variant_qc import pairwise_ibs
    from disq_spark.sources.variants import read_vcf

    df, _h = read_vcf(spark, os.path.join(fixtures_dir, "test.vcf"))
    got = {
        (r.sample_a, r.sample_b): (r.n_sites, r.ibs0, r.ibs1, r.ibs2)
        for r in pairwise_ibs(df).collect()
    }

    acgt = set("ACGT")
    agg = {}
    for r in df.collect():
        if not (
            len(r.ref) == 1 and r.ref in acgt and r.alts and len(r.alts) == 1
            and len(r.alts[0]) == 1 and r.alts[0] in acgt
        ):
            continue
        dos = {}
        for gg in r.genotypes or []:
            if not gg.gt:
                continue
            al = gg.gt.replace("|", "/").split("/")
            if "." in al or len(al) != 2:
                continue
            dos[gg.sample] = sum(1 for x in al if x == "1")
        for s1, s2 in combinations(sorted(dos), 2):
            k = (s1, s2)
            n, i0, i1, i2 = agg.get(k, (0, 0, 0, 0))
            ib = 2 - abs(dos[s1] - dos[s2])
            agg[k] = (
                n + 1, i0 + (ib == 0), i1 + (ib == 1), i2 + (ib == 2)
            )
    assert got == agg
    assert len(agg) == 3  # all three CEU pairs present


def test_trim_reads_matches_serial(spark):
    from disq_spark.operators.genomics import trim_reads

    def q(s):  # phred string from ints
        return "".join(chr(x + 33) for x in s)

    rows = [
        # trailing low-qual run
        ("r1", 0, None, None, None, None, None, None, None, None,
         "ACGTACGT", q([30, 30, 30, 30, 30, 10, 5, 2]), None, None),
        # adapter mid-read, then trailing trim of what remains
        ("r2", 0, None, None, None, None, None, None, None, None,
         "ACGTAGATCGGAAGAG", q([30] * 4 + [5] + [30] * 11), None, None),
        # leading low-qual
        ("r3", 0, None, None, None, None, None, None, None, None,
         "ACGTACGT", q([2, 3, 30, 30, 30, 30, 30, 30]), None, None),
        # everything low -> kept=false
        ("r4", 0, None, None, None, None, None, None, None, None,
         "ACGT", q([2, 2, 2, 2]), None, None),
        # unavailable seq passes through
        ("r5", 4, None, None, None, None, None, None, None, None, "*", "*", None, None),
    ]
    from disq_spark.schemas import READS_SCHEMA

    df = spark.createDataFrame(rows, READS_SCHEMA)
    out = {
        r.name: (r.seq, r.qual, r.kept)
        for r in trim_reads(
            df, trailing_q=20, leading_q=20, adapter="AGATCGGAAGAG", min_len=3
        ).collect()
    }

    def serial(seq, qual):
        a = seq.upper().find("AGATCGGAAGAG")
        alen = a if a >= 0 else len(seq)
        t = 0
        while t < alen and ord(qual[alen - 1 - t]) - 33 < 20:
            t += 1
        l = 0
        while l < alen and ord(qual[l]) - 33 < 20:
            l += 1
        keep = max(alen - t - l, 0)
        return seq[l : l + keep], qual[l : l + keep], keep >= 3

    for name, flags, *_rest in rows:
        pass
    for name, seq, qual in [("r1", "ACGTACGT", q([30,30,30,30,30,10,5,2])),
                            ("r2", "ACGTAGATCGGAAGAG", q([30]*4+[5]+[30]*11)),
                            ("r3", "ACGTACGT", q([2,3,30,30,30,30,30,30])),
                            ("r4", "ACGT", q([2,2,2,2]))]:
        assert out[name] == serial(seq, qual), name
    assert out["r5"] == ("*", "*", True)


def test_kmer_spectrum_matches_serial(spark, gen_reads):
    for src, _n in bam_inputs(gen_reads):
        _check_kmer_spectrum_matches_serial(spark, src)


def _check_kmer_spectrum_matches_serial(spark, src):
    import os
    from collections import Counter

    from disq_spark.operators.genomics import kmer_spectrum
    from disq_spark.sources.bam_source import read_bam

    df, _h = read_bam(spark, src)
    k = 15
    got = {r.mult: r.n_kmers for r in kmer_spectrum(df, k=k).collect()}

    cnt = Counter()
    COMP = str.maketrans("ACGT", "TGCA")
    for r in df.collect():
        s = (r.seq or "").upper()
        if s == "*":
            continue
        for i in range(len(s) - k + 1):
            km = s[i : i + k]
            if any(c not in "ACGT" for c in km):
                continue
            rc = km.translate(COMP)[::-1]
            cnt[min(km, rc)] += 1
    hist = Counter(cnt.values())
    assert got == dict(hist)


def test_king_kinship_trio_and_serial(spark):
    """KING-robust kinship: a simulated trio (child inherits one allele
    from each parent under HWE p=0.5) must land in the FIRST_DEGREE
    band for both child-parent pairs, and every pair's counters must
    equal a serial recount."""
    import random
    from itertools import combinations

    from disq_spark.operators.variant_qc import king_kinship

    rng = random.Random(20260815)
    rows = []
    for i in range(600):
        mo = [rng.randint(0, 1), rng.randint(0, 1)]
        fa = [rng.randint(0, 1), rng.randint(0, 1)]
        ch = [rng.choice(mo), rng.choice(fa)]
        un = [rng.randint(0, 1), rng.randint(0, 1)]
        gts = [
            ("CHILD", f"{ch[0]}/{ch[1]}"),
            ("FATHER", f"{fa[0]}/{fa[1]}"),
            ("MOTHER", f"{mo[0]}/{mo[1]}"),
            ("UNREL", f"{un[0]}/{un[1]}" if i % 17 else "./."),
        ]
        rows.append(("1", 100 + i, "A", ["G"], gts))
    df = _vc_rows(spark, rows)
    got = {
        (r.sample_a, r.sample_b): r
        for r in king_kinship(df).collect()
    }
    got_within = {
        (r.sample_a, r.sample_b): r
        for r in king_kinship(df, estimator="within").collect()
    }

    # serial recount
    agg = {}
    for contig, start, ref, alts, gts in rows:
        dos = {}
        for s, gt in gts:
            al = gt.replace("|", "/").split("/")
            if "." in al or len(al) != 2:
                continue
            dos[s] = sum(1 for x in al if x == "1")
        for s1, s2 in combinations(sorted(dos), 2):
            n, hh, oh, ha, hb = agg.get((s1, s2), (0, 0, 0, 0, 0))
            d1, d2 = dos[s1], dos[s2]
            agg[(s1, s2)] = (
                n + 1,
                hh + (d1 == 1 and d2 == 1),
                oh + (abs(d1 - d2) == 2),
                ha + (d1 == 1),
                hb + (d2 == 1),
            )
    assert set(got) == set(agg)
    for k, (n, hh, oh, ha, hb) in agg.items():
        r = got[k]
        assert (r.n_sites, r.het_het, r.opp_hom, r.het_a, r.het_b) == (
            n, hh, oh, ha, hb
        )
        # default = KING-robust between-family (PLINK2 --make-king)
        if min(ha, hb):
            assert r.kinship == round(
                0.5 + (2 * hh - 4 * oh - ha - hb) / (4 * min(ha, hb)), 6
            )
        else:
            assert r.kinship is None and r.degree is None
        # within-family variant
        rw = got_within[k]
        if ha + hb:
            assert rw.kinship == round((hh - 2 * oh) / (ha + hb), 6)
        else:
            assert rw.kinship is None and rw.degree is None

    # biological structure: child-parent pairs are first-degree,
    # the outsider is unrelated to everyone
    assert got[("CHILD", "FATHER")].degree == "FIRST_DEGREE"
    assert got[("CHILD", "MOTHER")].degree == "FIRST_DEGREE"
    for pair, r in got.items():
        if "UNREL" in pair:
            assert r.degree == "UNRELATED"
            assert abs(r.kinship) < 0.0884


def test_roh_synthetic_semantics(spark):
    from disq_spark.operators.variant_qc import runs_of_homozygosity

    rows = [
        # S: hom,hom,het,hom | missing invisible | second contig separate
        ("1", 100, "A", ["G"], [("S", "0/0"), ("T", "0/1")]),
        ("1", 200, "C", ["T"], [("S", "1/1"), ("T", "0/1")]),
        ("1", 300, "G", ["A"], [("S", "0/1"), ("T", "1/1")]),
        ("1", 400, "T", ["C"], [("S", "./."), ("T", "1/1")]),
        ("1", 500, "A", ["C"], [("S", "0/0"), ("T", "0/1")]),
        ("2", 100, "A", ["G"], [("S", "1/1")]),
        # non-SNP site must be ignored entirely
        ("1", 250, "CT", ["C"], [("S", "0/0"), ("T", "0/0")]),
    ]
    out = runs_of_homozygosity(_vc_rows(spark, rows), min_sites=1).collect()
    got = {
        (r.sample, r.contig, r.start): (r.end, r.n_sites, r.n_hom_alt, r.span_bp)
        for r in out
    }
    assert got == {
        ("S", "1", 100): (200, 2, 1, 101),   # broken by het at 300
        ("S", "1", 500): (500, 1, 0, 1),     # resumes after het; 400 invisible
        ("S", "2", 100): (100, 1, 1, 1),
        ("T", "1", 300): (400, 2, 2, 101),   # T's het sites break around
    }
    # min_sites filter
    out2 = runs_of_homozygosity(_vc_rows(spark, rows), min_sites=2).collect()
    assert {(r.sample, r.contig, r.start) for r in out2} == {
        ("S", "1", 100), ("T", "1", 300)
    }
    # min_bp filter
    out3 = runs_of_homozygosity(
        _vc_rows(spark, rows), min_sites=1, min_bp=50
    ).collect()
    assert all(r.span_bp >= 50 for r in out3)


@needs_reference
def test_roh_matches_serial_on_hiseq(spark, fixtures_dir):
    """Independent gzip text parse of HiSeq.10000.vcf.bgz -> serial
    run-finding -> must equal the distributed operator exactly."""
    import gzip
    import os

    from disq_spark.operators.variant_qc import runs_of_homozygosity
    from disq_spark.sources.variants import read_vcf

    acgt = set("ACGT")
    per_key = {}  # (sample, contig) -> list[(start, dos)] in file order
    with gzip.open(
        os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz"), "rt"
    ) as f:
        samples = None
        for line in f:
            if line.startswith("#CHROM"):
                samples = line.rstrip("\n").split("\t")[9:]
                continue
            if line.startswith("#"):
                continue
            p = line.rstrip("\n").split("\t")
            contig, pos, ref, alt = p[0], int(p[1]), p[3], p[4]
            if not (
                len(ref) == 1 and ref in acgt and "," not in alt
                and len(alt) == 1 and alt in acgt
            ):
                continue
            fmt = p[8].split(":")
            gti = fmt.index("GT")
            for s, cell in zip(samples, p[9:]):
                gt = cell.split(":")[gti]
                al = gt.replace("|", "/").split("/")
                if "." in al or len(al) != 2:
                    continue
                per_key.setdefault((s, contig), []).append(
                    (pos, sum(1 for x in al if x == "1"))
                )

    expect = set()
    for (s, contig), sites in per_key.items():
        sites.sort()
        run = []
        for pos, dos in sites + [(None, 1)]:  # sentinel het flushes
            if dos == 1:
                if len(run) >= 10:
                    expect.add((
                        s, contig, run[0][0], run[-1][0], len(run),
                        sum(1 for _, d in run if d == 2),
                        run[-1][0] - run[0][0] + 1,
                    ))
                run = []
            else:
                run.append((pos, dos))

    df, _h = read_vcf(spark, os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz"))
    got = {
        (r.sample, r.contig, r.start, r.end, r.n_sites, r.n_hom_alt, r.span_bp)
        for r in runs_of_homozygosity(df, min_sites=10).collect()
    }
    assert got == expect
    assert len(got) >= 40


def test_cnv_segments_matches_serial(spark):
    """Synthetic read set with engineered gain/loss/gap regions; an
    independent per-base serial tally must reproduce the operator's
    segments exactly (same median/log2/threshold/merge rules)."""
    import math
    import random
    import statistics

    from disq_spark.operators.genomics import cnv_segments

    rng = random.Random(42)
    bs = 100
    reads = []
    # baseline: bins 0..39 at ~depth 4 (reads of length 50, 8 per bin)
    for b in range(40):
        for _ in range(8):
            s = b * bs + rng.randint(1, bs - 49)
            reads.append(("1", s, s + 49))
    # gain: bins 10..14 get 4x extra
    for b in range(10, 15):
        for _ in range(24):
            s = b * bs + rng.randint(1, bs - 49)
            reads.append(("1", s, s + 49))
    # loss: bins 25..29 thinned -> remove baseline by skipping; instead
    # add a second contig with sparse coverage + an uncovered gap
    for b in [50, 51, 53]:  # gap at bin 52 splits the LOSS segment
        s = b * bs + 1
        reads.append(("2", s, s + 24))  # depth ~0.25 -> LOSS

    df = spark.createDataFrame(reads, "contig string, start long, end long")
    got = {
        (r.contig, r.start, r.end, r.state, r.n_bins, r.mean_log2, r.mean_depth)
        for r in cnv_segments(df, bin_size=bs).collect()
    }

    # --- serial oracle: per-base depth -> per-bin mean (4dp) -> median
    depth = {}
    for c, s, e in reads:
        for p in range(s, e + 1):
            depth[(c, p)] = depth.get((c, p), 0) + 1
    bins = {}
    for c, s, e in reads:
        for b in range((s - 1) // bs, (e - 1) // bs + 1):
            bins.setdefault((c, b), 0)
    per_bin = {}
    for (c, b) in bins:
        tot = sum(depth.get((c, p), 0) for p in range(b * bs + 1, (b + 1) * bs + 1))
        per_bin[(c, b)] = round(tot / bs, 4)
    med = statistics.median(per_bin.values())
    states = {
        k: ("GAIN" if math.log2(v / med) >= 0.585
            else "LOSS" if math.log2(v / med) <= -0.737 else "NEUTRAL")
        for k, v in per_bin.items()
    }
    expect = set()
    for c in {c for c, _ in per_bin}:
        bl = sorted(b for cc, b in per_bin if cc == c)
        runs, cur = [], []
        for b in bl:
            if cur and (b != cur[-1] + 1 or states[(c, b)] != states[(c, cur[0])]):
                runs.append(cur)
                cur = []
            cur.append(b)
        if cur:
            runs.append(cur)
        for run in runs:
            st = states[(c, run[0])]
            if st == "NEUTRAL":
                continue
            logs = [math.log2(per_bin[(c, b)] / med) for b in run]
            deps = [per_bin[(c, b)] for b in run]
            expect.add((
                c, run[0] * bs + 1, (run[-1] + 1) * bs, st, len(run),
                round(sum(logs) / len(logs), 6), round(sum(deps) / len(deps), 6),
            ))
    assert got == expect
    # sanity: the engineered regions actually show up
    gain = [x for x in got if x[3] == "GAIN"]
    loss = [x for x in got if x[3] == "LOSS"]
    assert any(g[1] == 10 * bs + 1 and g[4] == 5 for g in gain)
    assert len(loss) == 2  # gap at bin 52 splits contig 2's loss run


def test_annotate_variants_matches_serial(spark):
    """Randomized gene model + variant positions; a serial Python
    implementation of the documented spec (class priority, name
    tie-break, left-preferring nearest-edge, strand orientation) must
    agree exactly."""
    import random

    from disq_spark.operators.variant_qc import annotate_variants

    rng = random.Random(7)
    genes = []
    for i in range(40):
        contig = rng.choice(["1", "2"])
        s = rng.randint(1, 50_000)
        e = s + rng.randint(200, 8000)
        strand = rng.choice(["+", "-"])
        if rng.random() < 0.7:
            # exon model: 1-3 exons inside the gene
            n = rng.randint(1, 3)
            cuts = sorted(rng.sample(range(s, e), 2 * n))
            exs = cuts[0::2]
            exe = cuts[1::2]
        else:
            exs = exe = None
        genes.append((contig, s, e, f"g{i:02d}", strand, exs, exe))
    gdf = spark.createDataFrame(
        genes,
        "contig string, start long, end long, gene string, strand string, "
        "exon_starts array<long>, exon_ends array<long>",
    )
    variants = [
        ("1" if i % 3 else "2", rng.randint(1, 70_000), "A", ["G"], [("S", "0/1")])
        for i in range(400)
    ] + [("MT", 5, "A", ["G"], [("S", "0/1")])]  # contig with no genes
    vdf = _vc_rows(spark, variants)
    got = {
        (r.contig, r.start): (r.consequence, r.gene, r.gene_distance)
        for r in annotate_variants(vdf, gdf, near_bp=2000).collect()
    }

    def serial(contig, pos):
        cg = [g for g in genes if g[0] == contig]
        if not cg:
            return ("INTERGENIC", None, None)
        overl = [g for g in cg if g[1] <= pos <= g[2]]
        exonic = [
            g for g in overl
            if g[5] is not None
            and any(a <= pos <= b for a, b in zip(g[5], g[6]))
        ]
        if exonic:
            return ("EXONIC", min(g[3] for g in exonic), 0)
        if overl:
            modelled = [g for g in overl if g[5] is not None]
            if modelled:
                return ("INTRONIC", min(g[3] for g in modelled), 0)
            return ("GENIC", min(g[3] for g in overl), 0)
        lefts = [g for g in cg if g[2] < pos]
        rights = [g for g in cg if g[1] > pos]
        lb = max(lefts, key=lambda g: (g[2], g[3])) if lefts else None
        rb = min(rights, key=lambda g: (g[1], g[3])) if rights else None
        if lb and (not rb or pos - lb[2] <= rb[1] - pos):
            d, gname, strand, left = pos - lb[2], lb[3], lb[4], True
        else:
            d, gname, strand, left = rb[1] - pos, rb[3], rb[4], False
        if d > 2000:
            return ("INTERGENIC", gname, d)
        if left:
            return ("DOWNSTREAM" if strand == "+" else "UPSTREAM", gname, d)
        return ("UPSTREAM" if strand == "+" else "DOWNSTREAM", gname, d)

    assert len(got) == len({(c, p) for c, p, *_ in variants})
    mism = []
    for (c, p) in got:
        if got[(c, p)] != serial(c, p):
            mism.append(((c, p), got[(c, p)], serial(c, p)))
    assert not mism, mism[:5]
    # every class exercised
    assert {v[0] for v in got.values()} == {
        "EXONIC", "INTRONIC", "GENIC", "UPSTREAM", "DOWNSTREAM", "INTERGENIC"
    }


def test_dsir_weights_semantics(spark):
    """Raw docs sharing the target's vocabulary must outscore docs that
    don't; feature count is unigrams + adjacent bigrams."""
    from disq_spark.operators.sampling import dsir_weights

    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha"),
            (2, "gamma delta gamma delta gamma"),
            (3, "alpha beta gamma"),
            (4, "epsilon"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta alpha"), (101, "beta alpha beta")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dsir_weights(raw, target, buckets=64).collect()}
    assert rows[1].n_features == 9   # 5 unigrams + 4 bigrams
    assert rows[4].n_features == 1   # single token, no bigram
    assert rows[1].logweight > rows[3].logweight > rows[2].logweight


def test_importance_resample_deterministic_and_weighted(spark):
    from disq_spark.operators.sampling import importance_resample

    scored = spark.createDataFrame(
        [(i, 0.0 if i else 100.0) for i in range(200)],
        "doc_id long, logweight double",
    )
    sel1 = [r.doc_id for r in importance_resample(scored, 20, seed="s").collect()]
    sel2 = [
        r.doc_id
        for r in importance_resample(scored.repartition(13), 20, seed="s").collect()
    ]
    assert sorted(sel1) == sorted(sel2)            # partition-invariant
    assert 0 in sel1                               # +100 logweight always wins
    sel3 = [r.doc_id for r in importance_resample(scored, 20, seed="t").collect()]
    assert sorted(sel1) != sorted(sel3)            # seed changes the draw


@needs_reference
def test_estimate_contamination_matches_serial(spark, fixtures_dir):
    """Reduce the already-differentially-tested pileup over a fixed
    hom-alt site list serially; the operator's one-row output must
    match, including the doubled ref-fraction estimate."""
    import os

    from disq_spark.operators.genomics import estimate_contamination, pileup
    from disq_spark.sources.bam_source import read_bam

    sites = [
        ("1", 24975456, "T", "A"),
        ("1", 24975473, "A", "C"),
        ("1", 24795548, "C", "T"),
        ("1", 24861704, "G", "A"),  # genuinely mixed site
    ]
    df, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    vrows = [(c, p, r, [a], [("S", "1/1")]) for c, p, r, a in sites]
    # split-multiallelic hazards: an exact duplicate record must count
    # its position ONCE, and a same-position record with a conflicting
    # ALT must drop the position entirely (inconsistent hom-alt)
    vrows.append(("1", 24975456, "T", ["A"], [("S", "1/1")]))
    vrows.append(("1", 24975473, "A", ["G"], [("S", "1/1")]))
    sites = [s for s in sites if s[1] != 24975473]
    vdf = _vc_rows(spark, vrows)
    got = estimate_contamination(
        df, vdf, min_depth=10, min_base_quality=10
    ).collect()[0]

    pl = {
        (r.contig, r.pos): r
        for r in pileup(df, min_base_quality=10).filter(
            F.col("pos").isin([p for _, p, _, _ in sites])
        ).collect()
    }
    tot = refs = alts = 0
    n_sites = 0
    for c, p, ref, alt in sites:
        r = pl[(c, p)]
        counts = {"A": r.n_a, "C": r.n_c, "G": r.n_g, "T": r.n_t}
        bt = sum(counts.values())
        if bt < 10:
            continue
        n_sites += 1
        tot += bt
        refs += counts[ref]
        alts += counts[alt]
    assert (got.n_sites, got.total_bases, got.ref_bases, got.alt_bases) == (
        n_sites, tot, refs, alts
    )
    assert got.other_bases == tot - refs - alts
    assert got.contamination_est == round(2.0 * refs / (refs + alts), 6)
    assert got.error_floor == round((tot - refs - alts) / tot * 1.5, 6)
    # the mixed site pushes the estimate well off zero
    assert got.contamination_est > 0.02


@needs_reference
def test_sv_discordant_clusters_synthetic_and_serial(spark, fixtures_dir):
    """Engineered deletion/inversion/duplication/translocation pair
    sets must classify and cluster per spec; then the 1.bam fixture's
    discordant ends must match a serial recount."""
    import os

    from disq_spark.operators.genomics import sv_discordant_clusters
    from disq_spark.sources.bam_source import read_bam

    F_PAIR, F_PROPER, F_REV, F_MREV, F_FIRST = 0x1, 0x2, 0x10, 0x20, 0x40

    def rec(contig, start, mate_contig, mate_start, flags, name="r"):
        return (
            name, flags, contig, start, start + 99, 60, "100M",
            mate_contig, mate_start, 0, None, None, None, None,
        )

    rows = []
    # DEL cluster: 3 FR pairs, long span, starts within 200 bp
    for i, s in enumerate([10_000, 10_150, 10_190]):
        rows.append(rec("1", s, "1", s + 50_000, F_PAIR | F_FIRST | F_MREV, f"d{i}"))
    # INV cluster: 2 same-orientation pairs
    for i, s in enumerate([40_000, 40_100]):
        rows.append(rec("1", s, "1", s + 3_000, F_PAIR | F_FIRST, f"i{i}"))
    # mate-side break: two INV pairs with CLOSE left starts but mates
    # ~9 Mbp apart are unrelated events — must NOT merge into one
    # cluster (left-only clustering would report them as n_pairs=2)
    rows.append(rec("1", 45_000, "1", 48_000, F_PAIR | F_FIRST, "m0"))
    rows.append(rec("1", 45_100, "1", 9_045_100, F_PAIR | F_FIRST, "m1"))
    # DUP: canonical end reverse, mate forward (RF) — two pairs
    for i, s in enumerate([70_000, 70_050]):
        rows.append(rec("1", s, "1", s + 4_000, F_PAIR | F_FIRST | F_REV, f"u{i}"))
    # TRA cluster: 2 cross-contig pairs + 1 lone far away (dropped @2)
    rows.append(rec("1", 90_000, "2", 500_000, F_PAIR | F_FIRST | F_MREV, "t0"))
    rows.append(rec("1", 90_200, "2", 500_300, F_PAIR | F_MREV, "t1"))
    rows.append(rec("1", 990_000, "2", 800_000, F_PAIR | F_FIRST, "t2"))
    # OTHER: FR short-span not-proper pair (insert below max)
    rows.append(rec("1", 60_000, "1", 60_200, F_PAIR | F_FIRST | F_MREV, "o0"))
    # non-canonical end of d0 (must be dropped, not double-counted)
    rows.append(rec("1", 60_000, "1", 10_000, F_PAIR | F_REV, "d0mate"))
    # proper pair and secondary must be ignored
    rows.append(rec("1", 10_000, "1", 10_400, F_PAIR | F_PROPER | F_FIRST, "p0"))
    rows.append(rec("1", 10_000, "1", 60_000, F_PAIR | F_FIRST | 0x100, "s0"))

    from disq_spark.schemas import READS_SCHEMA
    df = spark.createDataFrame(rows, READS_SCHEMA)
    got = {
        (r["class"], r.contig, r.start_lo, r.start_hi,
         r.mate_contig, r.mate_lo, r.mate_hi, r.n_pairs)
        for r in sv_discordant_clusters(
            df, max_insert=1000, cluster_window=500, min_support=2
        ).collect()
    }
    assert got == {
        ("DEL", "1", 10_000, 10_190, "1", 60_000, 60_190, 3),
        ("INV", "1", 40_000, 40_100, "1", 43_000, 43_100, 2),
        ("DUP", "1", 70_000, 70_050, "1", 74_000, 74_050, 2),
        ("TRA", "1", 90_000, 90_200, "2", 500_000, 500_300, 2),
    }
    # at min_support=1 the mate-split events surface as two singleton
    # clusters, never one merged pair
    got1 = {
        (r["class"], r.start_lo, r.start_hi, r.mate_lo, r.mate_hi, r.n_pairs)
        for r in sv_discordant_clusters(
            df, max_insert=1000, cluster_window=500, min_support=1
        ).collect()
        if r["class"] == "INV" and 45_000 <= r.start_lo <= 45_100
    }
    assert got1 == {
        ("INV", 45_000, 45_000, 48_000, 48_000, 1),
        ("INV", 45_100, 45_100, 9_045_100, 9_045_100, 1),
    }

    # 1.bam: FULL serial reimplementation (classify + canonical dedup +
    # both-breakpoint gap-and-islands clustering) must reproduce the
    # operator cluster-for-cluster — this independently validates the
    # genomics_sv_discordant gate's golden literals, not just their
    # stability (the gate runs at cluster_window=100k; check both).
    bam, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    for window in (500, 100_000):
        ops = {
            (r["class"], r.contig, r.start_lo, r.start_hi,
             r.mate_contig, r.mate_lo, r.mate_hi, r.n_pairs)
            for r in sv_discordant_clusters(
                bam, max_insert=1000, cluster_window=window, min_support=1
            ).collect()
        }
        rows_b = bam.filter(
            "(flags & 1)!=0 and (flags & 2)=0 and (flags & 4)=0 and (flags & 8)=0"
            " and (flags & 256)=0 and (flags & 1024)=0 and (flags & 2048)=0"
            " and contig is not null and mate_contig is not null"
        ).select("contig", "start", "mate_contig", "mate_start", "flags").collect()
        kept = []
        for r in rows_b:
            first = bool(r.flags & 0x40)
            if (r.contig, r.start) < (r.mate_contig, r.mate_start) or (
                (r.contig, r.start) == (r.mate_contig, r.mate_start) and first
            ):
                rev, mrev = bool(r.flags & 0x10), bool(r.flags & 0x20)
                if r.contig != r.mate_contig:
                    c = "TRA"
                elif rev == mrev:
                    c = "INV"
                elif rev:
                    c = "DUP"
                elif r.mate_start - r.start > 1000:
                    c = "DEL"
                else:
                    c = "OTHER"
                kept.append((c, r.contig, r.mate_contig, r.start, r.mate_start))
        groups = {}
        for c, ctg, mctg, s, ms in kept:
            groups.setdefault((c, ctg, mctg), []).append((s, ms))
        expect = set()
        for (c, ctg, mctg), pts in groups.items():
            pts.sort()
            cluster = [pts[0]]
            for s, ms in pts[1:]:
                if s - cluster[-1][0] > window or abs(ms - cluster[-1][1]) > window:
                    expect.add((
                        c, ctg, cluster[0][0], cluster[-1][0], mctg,
                        min(m for _, m in cluster), max(m for _, m in cluster),
                        len(cluster),
                    ))
                    cluster = []
                cluster.append((s, ms))
            expect.add((
                c, ctg, cluster[0][0], cluster[-1][0], mctg,
                min(m for _, m in cluster), max(m for _, m in cluster),
                len(cluster),
            ))
        assert ops == expect, f"window={window}"


@needs_reference
def test_region_coverage_matches_serial(spark, fixtures_dir):
    """Per-region count/total/breadth over 1.bam must equal a serial
    per-base tally on a region set spanning covered, boundary, and
    empty stretches."""
    import os

    from disq_spark.operators.genomics import region_coverage
    from disq_spark.sources.bam_source import read_bam

    regions = [
        ("1", 24795000, 24805000, "covered_a"),
        ("1", 24860000, 24862000, "tight"),
        ("1", 24900000, 24900100, "maybe_empty"),
        ("1", 1000, 2000, "empty"),
        ("2", 100, 200, "no_contig"),
    ]
    rdf = spark.createDataFrame(regions, "contig string, start long, end long, name string")
    bam, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    got = {
        r.name: (r.n_reads, r.total_bases, r.mean_depth, r.covered_bases, r.pct_covered)
        for r in region_coverage(bam, rdf).collect()
    }
    assert set(got) == {n for *_, n in regions}

    reads = bam.filter("contig is not null and start is not null and end is not null")\
        .select("contig", "start", "end").collect()
    for c, s, e, name in regions:
        n = tot = 0
        depth = {}
        for r in reads:
            if r.contig != c or r.end < s or r.start > e:
                continue
            n += 1
            lo, hi = max(r.start, s), min(r.end, e)
            tot += hi - lo + 1
            for p in range(lo, hi + 1):
                depth[p] = depth.get(p, 0) + 1
        covered = len(depth)
        span = e - s + 1
        assert got[name] == (
            n, tot, round(tot / span, 6), covered, round(covered / span, 6)
        ), name


def test_keep_best_representatives(spark):
    from disq_spark.operators.dedup import (
        component_best,
        keep_best_representatives,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 5), (5, 7)],
        "doc_id long, n_chars long",
    )
    # component {1,2,3}: best score 99 tie -> min id 2; {4,5}: 5 wins
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id
        for r in keep_best_representatives(docs, pairs, "n_chars").collect()
    )
    assert kept == [2, 5]
    best = {
        r.comp: (r.winner, r.best_score, r.size)
        for r in component_best(docs, pairs, "n_chars").collect()
    }
    assert best == {1: (2, 99, 3), 4: (5, 7, 2)}


def test_keep_best_representatives_string_ids(spark):
    """String doc_ids must work and tie-break deterministically to the
    MIN id — the previous unary-minus tie-break silently cast string
    ids to NULL (non-deterministic winner; error under ANSI mode)."""
    from disq_spark.operators.dedup import (
        component_best,
        keep_best_representatives,
    )

    docs = spark.createDataFrame(
        [("d1", 10), ("d2", 99), ("d3", 99), ("d4", 5), ("d5", 7)],
        "doc_id string, n_chars long",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d4", "d5")], "id_a string, id_b string"
    )
    kept = sorted(
        r.doc_id
        for r in keep_best_representatives(docs, pairs, "n_chars").collect()
    )
    assert kept == ["d2", "d5"]
    best = {
        r.comp: (r.winner, r.best_score, r.size)
        for r in component_best(docs, pairs, "n_chars").collect()
    }
    assert best == {"d1": ("d2", 99, 3), "d4": ("d5", 7, 2)}


@needs_reference
def test_bam_to_fastq_rows_matches_serial(spark, fixtures_dir):
    """Round 1.bam into FASTQ rows; a serial revcomp over the collected
    reads must agree record-for-record, and a write/read round trip
    through the FASTQ sink must preserve every record."""
    import os
    import tempfile

    from disq_spark.operators.genomics import bam_to_fastq_rows
    from disq_spark.sources.bam_source import read_bam
    from disq_spark.sources.fastq import read_fastq, write_fastq

    bam, _h = read_bam(spark, os.path.join(fixtures_dir, "1.bam"))
    out = bam_to_fastq_rows(bam)
    got = {(r.name, r.seq, r.qual) for r in out.collect()}

    comp = str.maketrans("ACGTNacgtn", "TGCANtgcan")
    expect = set()
    for r in bam.collect():
        if r.flags & (0x100 | 0x800) or not r.seq or r.seq == "*":
            continue
        seq, qual = r.seq, r.qual if r.qual else "*"
        if r.flags & 0x10:
            seq = seq.translate(comp)[::-1]
            if qual != "*":
                qual = qual[::-1]
        sfx = "" if not r.flags & 0x1 else ("/1" if r.flags & 0x40 else "/2")
        expect.add((r.name + sfx, seq, qual))
    assert got == expect
    assert len(got) > 4000

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "out.fastq")
        write_fastq(out, p, single_file=True)
        back = {
            (r.name, r.seq, r.qual) for r in read_fastq(spark, p).collect()
        }
    assert back == got


def test_embedding_neardup_blas_matches_sql(spark):
    """The bucket-GEMM path must produce exactly the SQL path's pairs
    and rounded scores, single- and multi-family (where a pair sharing
    several family buckets must emit once)."""
    import random

    from disq_spark.operators.similarity import embedding_neardup_pairs

    rng = random.Random(20260816)
    rows = []
    for i in range(300):
        base = [1.0, 0.2, -0.5, 0.8, -1.0, 0.3, 0.6, -0.4][i % 8]
        v = [base + rng.uniform(-0.15, 0.15) for _ in range(16)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for fams in (1, 2):
        kw = dict(threshold=0.98, n_bits=4, n_families=fams)
        sql = {
            (r.id_a, r.id_b): r.score
            for r in embedding_neardup_pairs(df, method="sql", **kw).collect()
        }
        blas = {
            (r.id_a, r.id_b): r.score
            for r in embedding_neardup_pairs(df, method="blas", **kw).collect()
        }
        assert blas == sql, f"n_families={fams}"
        assert len(sql) > 20  # not vacuous


def test_cosine_topk_blas_matches_sql(spark):
    """Streamed-GEMM top-k must equal the broadcast-join SQL path:
    same neighbors, ranks, and rounded scores, including id-ascending
    tie-breaks and self-match exclusion."""
    import random

    from disq_spark.operators.similarity import cosine_topk

    rng = random.Random(20260817)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(400)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)
    queries = corpus.filter(F.col("vec_id") < 5)
    got_sql = sorted(
        map(tuple, cosine_topk(corpus, queries, k=7, method="sql").collect())
    )
    got_blas = sorted(
        map(tuple, cosine_topk(corpus, queries, k=7, method="blas").collect())
    )
    assert got_blas == got_sql
    assert len(got_sql) == 35


def test_ulaw_alaw_wav_decode():
    """G.711 u-law / A-law WAV payloads (telephone speech corpora)
    decode via try_decode_audio: the expanded samples must match
    audioop's reference expansion exactly, and a PCM WAV of the same
    expanded signal must yield identical normalized samples."""
    import struct
    import warnings

    import numpy as np

    from disq_spark.operators.multimodal import try_decode_audio

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    rng = np.random.default_rng(8)
    raw = bytes(rng.integers(0, 256, 4000, dtype=np.uint8))

    def wav(fmt_tag, payload, rate=8000):
        fmt = struct.pack("<HHIIHH", fmt_tag, 1, rate, rate, 1, 8)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    for tag, expand in ((7, audioop.ulaw2lin), (6, audioop.alaw2lin)):
        rate, samples = try_decode_audio(wav(tag, raw))
        assert rate == 8000 and len(samples) == len(raw)
        want = np.frombuffer(expand(raw, 2), dtype="<i2").astype(np.float64) / 32768.0
        assert np.array_equal(samples, want), tag


def test_mp4_demux_and_metadata(spark):
    """Real ISO-BMFF demux through the distributed operators: sample
    byte ranges slice the exact frame payloads back out of the
    container, keyframes_only filters on stss, and video_metadata
    surfaces container facts."""
    import numpy as np

    from disq_spark.formats.mp4 import encode_mp4, sample_table
    from disq_spark.operators.multimodal import demux_frames, video_metadata

    rng = np.random.default_rng(6)
    sizes = [int(x) for x in rng.integers(1, 300, 23)]
    keys = [1, 7, 20]
    payload = encode_mp4(sizes, keys, width=640, height=360,
                         samples_per_chunk=4, frame_fill=b"\x01\x02\x03")
    # serial ground truth: ranges slice the exact fill bytes
    for i, (off, sz, _k, _d) in enumerate(sample_table(payload)):
        assert payload[off : off + sz] == bytes([b"\x01\x02\x03"[i % 3]]) * sz

    media = spark.createDataFrame(
        [(7, "video/mp4", bytearray(payload), len(payload), "m")],
        "doc_id long, media_type string, payload binary, n_bytes long, content_md5 string",
    )
    rows = demux_frames(media).orderBy("frame_idx").collect()
    assert [r.size for r in rows] == sizes
    assert [r.is_keyframe for r in rows] == [i + 1 in set(keys) for i in range(23)]
    kf = demux_frames(media, keyframes_only=True).collect()
    assert len(kf) == 3

    meta = video_metadata(media).collect()[0]
    assert meta.codec == "avc1" and meta.width == 640 and meta.height == 360
    assert meta.n_frames == 23 and meta.n_keyframes == 3


def test_g711_fallback_tables_match_audioop():
    """audioop is removed in Python 3.13 (PEP 594); the companded-WAV
    decoder falls back to inline G.711 expansion tables. On runtimes
    that still ship audioop, the tables must match its expansion
    bit-for-bit (u-law AND A-law, all 256 codes)."""
    import warnings

    import numpy as np
    import pytest

    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
    except ImportError:
        pytest.skip("audioop removed on this runtime; tables are the only path")

    from disq_spark.operators.multimodal import _G711_ALAW, _G711_ULAW

    codes = np.arange(256, dtype=np.uint8)
    data = codes.tobytes()
    want_u = np.frombuffer(audioop.ulaw2lin(data, 2), dtype="<i2").astype(np.float64)
    want_a = np.frombuffer(audioop.alaw2lin(data, 2), dtype="<i2").astype(np.float64)
    assert np.array_equal(_G711_ULAW[codes], want_u)
    assert np.array_equal(_G711_ALAW[codes], want_a)


def test_semantic_dedup_string_ids_blas(spark):
    """String (non-long) id columns worked on the sql path before the
    blas default landed and must keep working: the blas output schema
    derives from the input id type (ADVICE r6), and the pair set must
    match the sql path exactly."""
    import random

    from disq_spark.operators.similarity import semantic_dedup_pairs

    rng = random.Random(7)
    rows = []
    for i in range(120):
        base = [1.0, 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.0]
        v = [x + rng.uniform(-0.15, 0.15) for x in base]
        rows.append((f"doc-{i:04d}", v))
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    kw = dict(threshold=0.97, k=2, iters=2)
    sql = {
        (r.id_a, r.id_b): (r.cid, r.score)
        for r in semantic_dedup_pairs(df, method="sql", **kw).collect()
    }
    out = semantic_dedup_pairs(df, method="blas", block_size=16, **kw)
    assert dict(out.dtypes)["id_a"] == "string"
    rows = out.collect()
    blas = {(r.id_a, r.id_b): (r.cid, r.score) for r in rows}
    assert blas == sql and len(sql) > 20
    assert len(rows) == len(blas), "duplicate pairs from the block grid"


def test_minhash_lean_buckets_equal_carry(spark):
    """The lean-bucket variant (r11: bare-id bucket join + shuffle-hash
    join-backs to the signature table) must produce the SAME pairs and
    est_jaccard as the carry variant at a wide design point, and its
    plan must keep the signature join-backs partitioned (no broadcast —
    Catalyst undercounts array columns, the r9 OOM lesson) while the
    default 8/4 gate design point stays on the carry plan."""
    from disq_spark.operators.dedup import minhash_lsh_pairs, release_caches

    docs = spark.createDataFrame(
        [(i, f"sentence {i % 9} of the corpus repeats itself {i % 9} times over")
         for i in range(120)],
        "doc_id long, text string",
    )
    kw = dict(num_hashes=32, bands=16, threshold=0.5, max_df=None)
    carry = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, carry_signatures=True, **kw).collect()
    }
    lean_df = minhash_lsh_pairs(docs, carry_signatures=False, **kw)
    lean = {(r.id_a, r.id_b): r.est_jaccard for r in lean_df.collect()}
    assert carry == lean and len(carry) > 10

    # both sig join-backs must be ShuffledHashJoin (the hint pins them:
    # left unhinted, Catalyst's array-undercounting size estimate would
    # broadcast the corpus-proportional signature table — r9 OOM
    # lesson). The BUCKET self-join is free to broadcast here: this
    # test corpus is genuinely tiny and AQE sizes it truthfully.
    plan = lean_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2  # both sig join-backs
    # auto: wide signatures go lean, the 8/4 gate default stays carry
    auto_wide = minhash_lsh_pairs(docs, carry_signatures="auto", **kw)
    assert "ShuffledHashJoin" in auto_wide._jdf.queryExecution().executedPlan().toString()
    auto_gate = minhash_lsh_pairs(docs, threshold=0.5)
    assert "ShuffledHashJoin" not in auto_gate._jdf.queryExecution().executedPlan().toString()
    release_caches(spark)


def test_size_dispatch_auto_and_path_equality(spark, tmp_path):
    """method="auto" must route provably-small inputs to the SQL path
    (no Python worker) — file-scan stats give real sizes; in-memory
    relations report unknown (Long.MaxValue) and conservatively take
    the scale path — and the two paths must agree exactly: integer
    signature-equality counts for minhash, 4-decimal-rounded cosine
    for top-k."""
    from disq_spark.operators.dedup import minhash_lsh_pairs
    from disq_spark.operators.dispatch import plan_size_bytes, resolve_method
    from disq_spark.operators.similarity import cosine_topk

    local = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 7}")
         for i in range(80)],
        "doc_id long, text string",
    )
    # unknown stats (LogicalRDD) -> big -> the scale kernel
    assert resolve_method("auto", local) == "blas"
    local.write.parquet(str(tmp_path / "docs.parquet"))
    docs = spark.read.parquet(str(tmp_path / "docs.parquet"))
    assert plan_size_bytes(docs) < 8 * 1024 * 1024
    assert resolve_method("auto", docs) == "sql"
    a = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5, method="sql").collect()
    }
    b = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5, method="blas").collect()
    }
    auto = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5, method="auto").collect()
    }
    assert a == b == auto and len(a) > 10

    import random

    rng = random.Random(99)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(150)],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter("vec_id < 4")
    t_sql = [tuple(r) for r in cosine_topk(vecs, q, k=5, method="sql")
             .orderBy("query_id", "rank").collect()]
    t_blas = [tuple(r) for r in cosine_topk(vecs, q, k=5, method="blas")
              .orderBy("query_id", "rank").collect()]
    t_auto = [tuple(r) for r in cosine_topk(vecs, q, k=5, method="auto")
              .orderBy("query_id", "rank").collect()]
    assert t_sql == t_blas == t_auto and len(t_sql) == 20


def test_minhash_store_no_corpus_rescan(spark, tmp_path):
    """Persisted signature store: (a) batch-vs-store pairs equal the
    non-stored incremental path and the full recompute restricted to
    the batch; (b) the physical plan of the batch query scans the STORE
    tables, never the old corpus parquet; (c) append folds a processed
    batch in so the next batch dedups against it."""
    import random

    from disq_spark.operators.dedup import (
        append_minhash_store,
        build_minhash_store,
        incremental_minhash_pairs,
        incremental_minhash_pairs_stored,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    rng = random.Random(20260815)
    base = ["the quick brown fox jumps over the lazy dog again and again",
            "pack my box with five dozen liquor jugs for the party tonight",
            "how vexingly quick daft zebras jump over fences in the zoo"]

    def doc(i):
        t = base[i % 3]
        words = t.split()
        if i % 4 == 0:
            words[rng.randrange(len(words))] = f"tok{i}"
        return (i, " ".join(words))

    rows = [doc(i) for i in range(120)]
    old_p, new_p = str(tmp_path / "old.parquet"), str(tmp_path / "new.parquet")
    spark.createDataFrame(rows[:70], "doc_id long, text string").write.parquet(old_p)
    spark.createDataFrame(rows[70:], "doc_id long, text string").write.parquet(new_p)
    old, new = spark.read.parquet(old_p), spark.read.parquet(new_p)

    kw = dict(num_hashes=32, bands=8, k=8, stride=4)
    store = "disq_test_minhash_store"
    build_minhash_store(old, store, **kw)
    pairs_df = incremental_minhash_pairs_stored(new, store, threshold=0.3, **kw)

    # (b) plan never touches the old corpus parquet; the batch side is a
    # (lazily checkpointed) LogicalRDD so neither path appears — the
    # store side must be the catalog tables
    plan = pairs_df._sc._jvm.PythonSQLUtils.explainString(
        pairs_df._jdf.queryExecution(), "formatted"
    )
    assert old_p not in plan
    assert f"{store}_bands" in plan and f"{store}_sigs" in plan

    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs_df.collect()}

    # (a1) == non-stored incremental (recomputes corpus sigs per batch)
    old_sig = minhash_signatures(old, num_hashes=32, k=8, stride=4)
    legacy, _ = incremental_minhash_pairs(new, old_sig, threshold=0.3, **kw)
    assert got == {(r.id_a, r.id_b): r.est_jaccard for r in legacy.collect()}

    # (a2) == full recompute restricted to pairs touching the batch
    full = minhash_lsh_pairs(
        old.unionByName(new), threshold=0.3, method="sql", **kw
    )
    want = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in full.collect()
        if r.id_b >= 70
    }
    assert got == want and len(got) > 20

    # (c) append, then a second batch must pair against the first batch
    append_minhash_store(new, store, **kw)
    batch2 = spark.createDataFrame(
        [(200, rows[71][1])], "doc_id long, text string"  # dup of a batch-1 doc
    )
    p2 = {
        (r.id_a, r.id_b)
        for r in incremental_minhash_pairs_stored(batch2, store, threshold=0.3, **kw).collect()
    }
    assert (71, 200) in p2
    for t in (f"{store}_sigs", f"{store}_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ngram_two_level_agg_path_equality(spark):
    """two_level_agg is a measured-negative probe kept off by default
    (SCALE.md r7); when enabled it must still produce the identical
    pair set (it only re-associates the n_common summation)."""
    from disq_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"shared prefix text block {i % 6} and some common words tail {i % 6}")
         for i in range(60)],
        "doc_id long, text string",
    )
    base = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3, prefix_filter=False).collect()
    }
    two = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3, two_level_agg=True).collect()
    }
    assert base == two and len(base) > 10


def test_ngram_prefix_filter_path_equality(spark):
    """The PPJoin prefix-filtered path must produce the IDENTICAL pair
    set and jaccard values as the shared-shingle path — including pairs
    sitting exactly at the threshold, near-duplicate docs (prefix of
    length 1), disjoint docs, and df-order ties — at several
    thresholds (the prefix length depends on t, so each t exercises a
    different candidate cut)."""
    from disq_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (i, f"shared prefix text block {i % 6} and some common words tail {i % 6}")
        for i in range(40)
    ] + [
        (100, "totally disjoint vocabulary qqq www eee rrr"),
        (101, "totally disjoint vocabulary qqq www eee rrr"),  # exact dup: j=1.0
        (102, "half shared prefix text block 0 half unique zzz yyy xxx uuu"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.2, 0.4, 0.5, 0.8, 1.0):
        base = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=False
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=t, prefix_filter=True).collect()
        }
        assert pref == base, (t, len(base), len(pref))
        if t == 1.0:
            # the exact-dup pair must survive even the tightest prefix
            # (length-1 prefixes at t=1.0)
            assert (100, 101) in pref


def test_ngram_prefix_filter_with_max_df(spark):
    """prefix_filter composes with the max_df hot-shingle cap — sizes
    and intersections are computed over the KEPT shingles on both
    paths."""
    from disq_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"hot hot hot hot common words {i % 4} tail tail {i % 4}")
         for i in range(24)],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.3, max_df=12.0)
    base = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, **kw).collect()
    }
    pref = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, prefix_filter=True, **kw).collect()
    }
    assert pref == base and len(base) > 0


def test_remove_duplicate_paragraphs_semantics(spark):
    """Paragraph dedup: normalized matching (case/whitespace variants
    collapse), distinct-doc counting (a paragraph twice in ONE doc
    survives), original text + order preserved, all-removed docs come
    back as ''."""
    from disq_spark.operators.dedup import remove_duplicate_paragraphs

    rows = [
        (0, "Unique alpha\n\nShared  BANNER\n\nUnique beta"),
        (1, "shared banner\n\nOwn text one"),
        (2, "Repeated twice\n\nRepeated twice\n\nOwn text two"),  # same doc only
        (3, "Shared banner"),  # entire doc is the hot paragraph
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_paragraphs, r.n_removed)
        for r in remove_duplicate_paragraphs(df, min_docs=2).collect()
    }
    # normalized forms of 'Shared  BANNER'/'shared banner'/'Shared banner'
    # coincide -> hot (3 distinct docs); 'Repeated twice' is 1 doc -> kept
    assert got[0] == ("Unique alpha\n\nUnique beta", 3, 1)
    assert got[1] == ("Own text one", 2, 1)
    assert got[2] == ("Repeated twice\n\nRepeated twice\n\nOwn text two", 3, 0)
    assert got[3] == ("", 1, 1)


def test_image_dhash_semantics(spark):
    """dHash invariants: identical pixels -> identical codes (hamming
    0), a single-pixel luminance bump flips at most 2 bits (its two
    adjacent comparisons), and a hand-computed 9x8 gradient image gives
    the known all-ones / all-zeros rows."""
    import numpy as np

    from disq_spark.operators.dedup import hamming_banded_pairs
    from disq_spark.operators.multimodal import dhash_bits, encode_ppm, image_dhash

    # hand-check: 9x8 image whose grayscale strictly increases along x
    # -> every comparison true -> all 64 bits set -> signed -1
    grad = np.tile((np.arange(9, dtype=np.uint8) * 20)[None, :, None], (8, 1, 3))
    assert dhash_bits(grad) == -1
    # constant image: no comparison true -> 0
    assert dhash_bits(np.full((8, 9, 3), 7, np.uint8)) == 0

    rng = np.random.default_rng(12)
    base = rng.integers(0, 256, (16, 18, 3), dtype=np.uint8)
    bumped = base.copy()
    bumped[0, 0] = 255  # lands on sampled pixel (0,0): affects <= 1 comparison
    rows = [
        (0, encode_ppm(base)),
        (1, encode_ppm(base)),       # exact duplicate
        (2, encode_ppm(bumped)),     # near duplicate
        (3, b"not an image"),        # undecodable -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    codes = image_dhash(df)
    got = {r.doc_id: r.dhash for r in codes.collect()}
    assert set(got) == {0, 1, 2} and got[0] == got[1]
    assert bin(got[0] ^ got[2]).count("1") <= 2
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_banded_pairs(codes, "dhash", max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0 and (0, 2) in pairs


def test_pagerank_semantics(spark):
    """PageRank invariants on analytic graphs: a symmetric 2-cycle
    stays uniform (0.5/0.5); total mass is conserved (sums to 1) even
    with dangling nodes; a sink fed by everything outranks its
    feeders."""
    from disq_spark.operators.graph import pagerank

    # symmetric 2-cycle
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r.node: r.rank for r in pagerank(e, iters=10).collect()}
    assert abs(got[1] - 0.5) < 1e-12 and abs(got[2] - 0.5) < 1e-12

    # star into a dangling sink: 1..4 -> 0; 0 has no out-edges
    e2 = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    rows = pagerank(e2, iters=20).collect()
    ranks = {r.node: r.rank for r in rows}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # mass conserved
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    assert len({round(ranks[i], 12) for i in range(1, 5)}) == 1  # symmetric feeders


def test_pagerank_no_per_iteration_collect_job(spark):
    """The dangling-mass scalar is folded into the plan as a broadcast
    crossJoin — building the result must not round-trip data through
    the driver per iteration (the regression this guards: a
    ``collect()[0]`` of the dangling mass every loop). Guarded directly
    by intercepting DataFrame.collect/count during construction: only
    the single ``nodes.count()`` (rank seed + empty-graph guard) is
    allowed. A job-count bound can't discriminate any more — the lazy
    per-iteration checkpoints legitimately submit bounded-lineage
    broadcast jobs at build time."""
    import random

    from pyspark.sql import DataFrame as _DF

    from disq_spark.operators.graph import pagerank

    rnd = random.Random(7)
    edges = [(rnd.randint(0, 100), rnd.randint(0, 100)) for _ in range(400)]
    df = spark.createDataFrame(edges, "src long, dst long")
    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = _DF.collect, _DF.count

    def spy_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def spy_count(self):
        calls["count"] += 1
        return orig_count(self)

    _DF.collect, _DF.count = spy_collect, spy_count
    try:
        pr = pagerank(df, iters=10)
    finally:
        _DF.collect, _DF.count = orig_collect, orig_count
    assert calls["collect"] == 0 and calls["count"] <= 1, calls
    rows = pr.collect()
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-9


def test_dedup_cache_release_no_net_growth(spark):
    """The documented cache contract (operators/dedup.py): after a caller
    materializes a dedup result and calls release_caches(), the session
    holds no net-new cached RDDs. Five invocations with DIFFERENT inputs
    (distinct canonical plans, so CacheManager plan-dedup cannot mask a
    leak) must leave the persistent-RDD map at its baseline each time."""
    from disq_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        release_caches,
    )

    jsc = spark.sparkContext._jsc.sc()
    release_caches()
    base = jsc.getPersistentRDDs().size()
    for i in range(5):
        df = spark.createDataFrame(
            [(j, f"doc {i} body token{j} " * 6 + "shared tail text") for j in range(8)],
            "doc_id long, text string",
        )
        if i % 2 == 0:
            minhash_lsh_pairs(df, num_hashes=8, bands=4).count()
        else:
            ngram_jaccard_pairs(df).count()
        assert release_caches() >= 1
        # <=, not ==: the session-scoped ContextCleaner may concurrently
        # collect out-of-scope checkpoint RDDs from EARLIER tests, so the
        # count can legitimately dip below the captured baseline; the
        # contract under test is no NET GROWTH from the dedup operators
        assert jsc.getPersistentRDDs().size() <= base, f"iteration {i}"


def test_ngram_prefix_filter_auto_dispatch(spark):
    """prefix_filter='auto' resolves to the prefix path exactly when
    max_df is None (nothing else bounds shingle fan-out — the regime
    the r9 zipf probe measured the prefix path ~2x faster in) and to
    the baseline shared-shingle path when a cap is set (measured pure
    overhead there). Plan-sniffed via the prefix path's signature
    'slice' expression over the sorted token arrays."""
    from disq_spark.operators.dedup import ngram_jaccard_pairs, release_caches

    docs = spark.createDataFrame(
        [(i, f"auto dispatch text block {i % 5} common tail words {i % 5}")
         for i in range(30)],
        "doc_id long, text string",
    )
    auto_uncapped = ngram_jaccard_pairs(docs, threshold=0.3)
    auto_capped = ngram_jaccard_pairs(docs, threshold=0.3, max_df=15.0)
    plan_u = auto_uncapped._jdf.queryExecution().analyzed().toString()
    plan_c = auto_capped._jdf.queryExecution().analyzed().toString()
    assert "slice" in plan_u and "slice" not in plan_c
    # two_level_agg wins over auto (the paths are mutually exclusive)
    both = ngram_jaccard_pairs(docs, threshold=0.3, two_level_agg=True)
    assert "slice" not in both._jdf.queryExecution().analyzed().toString()
    release_caches()


def test_ngram_prefix_filter_rejects_bad_string(spark):
    """Only the literal 'auto' is a valid string for prefix_filter; any
    other string (a typo like 'Auto') must raise instead of silently
    enabling the prefix path as a truthy value (r9 advice)."""
    import pytest

    from disq_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in ("Auto", "true", "on", ""):
        with pytest.raises(ValueError, match="prefix_filter"):
            ngram_jaccard_pairs(docs, prefix_filter=bad)


def test_release_caches_drains_past_failing_unpersist(spark):
    """release_caches must complete the drain even when one tracked
    entry's unpersist raises (e.g. its owning SparkSession was stopped
    in a multi-session process): the failing entry is dropped, every
    entry after it is still released (r9 advice)."""
    from disq_spark.operators import dedup as DD

    DD.release_caches()
    good = spark.createDataFrame([(1,)], "x long").persist()
    good.count()

    class _Boom:
        def unpersist(self, blocking=True):
            raise RuntimeError("session stopped")

    # pop order is LIFO: the boom entry is popped FIRST (raises,
    # swallowed), and `good` — behind it in the list — must still be
    # released for the drain-continues contract to hold
    DD._TRACKED.extend([good, _Boom()])
    released = DD.release_caches()
    assert released == 1
    assert DD._TRACKED == []
    assert good.storageLevel.useMemory is False


def test_max_df_caches_only_regular_file_corpora(spark, tmp_path):
    """_max_df's memoization key is the corpus FILE's (path, mtime, size)
    identity. A directory-shaped parquet (Spark-written) must NOT be
    cached — rewriting part files in place does not bump the dir mtime,
    so a cached count could go silently stale and change max_df, a gate
    OUTPUT (r9 advice). A single-file corpus IS cached (and the second
    call must not re-count: the bench cold-floor guard, r9 verdict #7)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from disq_spark.queries import llm

    # directory-shaped corpus: stat succeeds on the dir, must not cache
    ddir = tmp_path / "dirsf"
    ddir.mkdir()
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(7)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(ddir / "documents.parquet"))
    from disq_spark.queries import tables

    before = dict(llm._N_DOCS_CACHE)
    llm._max_df(spark, str(ddir))
    assert llm._N_DOCS_CACHE == before, "directory corpus must not be memoized"

    # single-file corpus: cached, and the cached path does NOT re-count.
    # Since r11 the memo lives in tables._COUNT_CACHE with
    # tables._table_key keys: (application id, sf_dir, table, mtime_ns, size).
    fdir = tmp_path / "filesf"
    fdir.mkdir()
    pq.write_table(
        pa.table({"doc_id": list(range(5)), "text": [f"t{i}" for i in range(5)]}),
        str(fdir / "documents.parquet"),
    )
    v1 = llm._max_df(spark, str(fdir))
    added = set(llm._N_DOCS_CACHE) - set(before)
    assert any(k[1] == str(fdir) and k[2] == "documents" for k in added)
    orig_load = tables.load
    try:
        def _no_count(*a, **kw):
            raise AssertionError("memoized _max_df must not re-count the corpus")

        tables.load = _no_count
        assert llm._max_df(spark, str(fdir)) == v1
    finally:
        tables.load = orig_load


def test_load_memo_invalidates_on_rewrite(spark, tmp_path):
    """tables.load memoizes the DataFrame (plan/metadata only — no rows)
    per (session, path, mtime_ns, size): the same single-file table
    returns the same object (no footer re-read per query build), but a
    corpus REWRITTEN at the same path must get a fresh scan — a stale
    file listing would silently serve old bytes. Directory-shaped
    tables are never memoized (rewriting part files in place does not
    bump the dir mtime)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from disq_spark.queries import tables

    fdir = tmp_path / "memosf"
    fdir.mkdir()
    path = str(fdir / "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path
    )
    d1 = tables.load(spark, str(fdir), "documents")
    d2 = tables.load(spark, str(fdir), "documents")
    assert d1 is d2, "same file identity must return the memoized DataFrame"
    assert d1.count() == 2

    # rewrite at the same path -> new identity -> fresh scan, fresh rows
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), path
    )
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    d3 = tables.load(spark, str(fdir), "documents")
    assert d3 is not d1
    assert d3.count() == 3
    assert tables.table_count(spark, str(fdir), "documents") == 3

    # directory-shaped parquet: stat is not a regular file -> no memo
    ddir = tmp_path / "memodir"
    ddir.mkdir()
    spark.createDataFrame([(1, "x")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(ddir / "documents.parquet"))
    e1 = tables.load(spark, str(ddir), "documents")
    e2 = tables.load(spark, str(ddir), "documents")
    assert e1 is not e2, "directory corpus must not be memoized"


def test_table_memos_miss_entries_of_another_application(spark, tmp_path):
    """tables' DataFrame and row-count memos key on the application id,
    not the id() of a py4j session wrapper (which a later session can
    reuse after GC): entries an earlier application left for the same
    file identity are never served."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from disq_spark.queries import tables

    fdir = tmp_path / "appsf"
    fdir.mkdir()
    path = str(fdir / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), path)
    st = os.stat(path)
    foreign = ("app-stopped-earlier", str(fdir), "documents", st.st_mtime_ns, st.st_size)
    stale = spark.range(0)
    tables._DF_CACHE[foreign] = stale
    tables._COUNT_CACHE[foreign] = 99
    try:
        own = tables._table_key(spark, str(fdir), "documents")
        assert own[0] == spark.sparkContext.applicationId
        assert tables.load(spark, str(fdir), "documents") is not stale
        assert tables.table_count(spark, str(fdir), "documents") == 3
        assert tables._COUNT_CACHE[own] == 3
    finally:
        for memo in (tables._DF_CACHE, tables._COUNT_CACHE):
            for k in [k for k in memo if k[1] == str(fdir)]:
                del memo[k]


def test_fan_out_branches_on_source_width(spark):
    """dispatch.fan_out: adds exactly one exchange (hash-by-key when
    given a key) for a source narrower than the core count, and is an
    exact no-op — same object — for a source already at or above it."""
    from disq_spark.operators.dispatch import fan_out

    narrow = spark.range(10).coalesce(1)
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism
    )
    fanned = fan_out(narrow, "id")
    assert fanned is not narrow
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in fanned.collect()) == list(range(10))
    assert fan_out(wide, "id") is wide


def test_fan_out_partition_count_is_memoized(spark):
    """r12 driver-gap fix: fan_out's source-width probe (a full physical
    planning of the subtree via df.rdd) is memoized per (session,
    semantic plan hash), so rebuilding the same query does not re-plan.
    Proven by steering the memo entry and watching the branch follow it."""
    from disq_spark.operators import dispatch

    dispatch._NPART_MEMO.clear()
    base = spark.range(64).coalesce(1)
    assert dispatch.fan_out(base, "id") is not base
    assert len(dispatch._NPART_MEMO) == 1
    key = next(iter(dispatch._NPART_MEMO))
    # a semantically identical rebuild must consult the memo, not re-plan:
    # flip the stored width to "wide" and the no-op branch must fire
    dispatch._NPART_MEMO[key] = spark.sparkContext.defaultParallelism
    rebuilt = spark.range(64).coalesce(1)
    assert dispatch.fan_out(rebuilt, "id") is rebuilt
    dispatch._NPART_MEMO.clear()


def test_fan_out_memo_misses_entries_of_another_application(spark):
    """The memo key carries the application id, not the id() of a py4j
    session wrapper (which a later session can reuse after GC): an entry
    left by an earlier application for the same plan is never served."""
    from disq_spark.operators import dispatch

    dispatch._NPART_MEMO.clear()
    base = spark.range(64).coalesce(1)
    # a stale "wide" entry from a stopped application, same semantic hash
    dispatch._NPART_MEMO[("app-stopped-earlier", base.semanticHash())] = (
        spark.sparkContext.defaultParallelism
    )
    assert dispatch.fan_out(base, "id") is not base
    assert (spark.sparkContext.applicationId, base.semanticHash()) in dispatch._NPART_MEMO
    dispatch._NPART_MEMO.clear()


def test_ngram_and_dsir_stages_fan_out_on_narrow_source(spark):
    """r11 stage-sweep fix: the per-byte-heavy gram/feature explodes in
    substring_dup_rate and dsir_weights repartition a narrow source by
    doc id (so the explode runs as wide as the session) and leave the
    results identical to the single-partition execution."""
    from disq_spark.operators.dedup import substring_dup_rate
    from disq_spark.operators.sampling import dsir_weights

    rows = [(i, f"tok{i % 7} alpha beta gamma tok{i % 5} delta") for i in range(40)]
    narrow = spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1)

    sd = substring_dup_rate(narrow, n=3)
    assert "hashpartitioning(doc_id" in sd._jdf.queryExecution().executedPlan().toString()
    tgt = narrow.filter("doc_id < 10")
    dw = dsir_weights(narrow, tgt, buckets=64)
    assert "hashpartitioning(doc_id" in dw._jdf.queryExecution().executedPlan().toString()

    wide = narrow.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    assert sorted(map(tuple, sd.collect())) == sorted(
        map(tuple, substring_dup_rate(wide, n=3).collect())
    )
    assert sorted(map(tuple, dw.collect())) == sorted(
        map(tuple, dsir_weights(wide, wide.filter("doc_id < 10"), buckets=64).collect())
    )
