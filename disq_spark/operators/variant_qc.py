"""Variant QC aggregates over the VCF frame (`sources.variants.read_vcf`).

bcftools-stats analogs expressed as pure column expressions — no Python
in the row path, one map-side-combinable aggregation each. These are
the summary passes a joint-calling pipeline runs over every produced
VCF; at 100 TB they are a single scan + tiny shuffle (#groups rows).

Reference parity: the reference exposes the VCF rows themselves
(HtsjdkVariantsRddTest.java drives read/write; analysis is left to
downstream tools) — these operators are that downstream layer,
re-expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Biallelic SNP: 1-base ACGT ref, exactly one 1-base ACGT alt.
_ACGT = ("A", "C", "G", "T")


def _is_biallelic_snp() -> F.Column:
    alt = F.col("alts")[0]
    return (
        (F.length("ref") == 1)
        & F.col("ref").isin(*_ACGT)
        & (F.size("alts") == 1)
        & (F.length(alt) == 1)
        & alt.isin(*_ACGT)
    )


def _gt_state_and_alleles(side: str):
    """(state, resolved-allele multiset) for one exploded genotype side.

    State per GATK GenotypeConcordance: MISSING (no GT / any '.'),
    HOM_REF, HET, HOM_VAR. Alleles resolve allele INDEXES to their
    sequences (0 -> ref, k -> alts[k-1]) and sort them, so '0/1' vs
    '1/0' — or the same genotype spelled against re-ordered ALTs —
    compare equal. Phasing is ignored (| == /)."""
    gt = F.col(f"{side}_gt")
    idxs = F.split(gt, r"[/|]")
    missing = gt.isNull() | (gt == ".") | F.array_contains(idxs, ".")
    distinct_n = F.size(F.array_distinct(idxs))
    state = (
        F.when(missing, "MISSING")
        .when((distinct_n == 1) & (idxs[0] == "0"), "HOM_REF")
        .when(distinct_n == 1, "HOM_VAR")
        .otherwise("HET")
    )
    resolved = F.sort_array(
        F.transform(
            idxs,
            lambda i: F.when(i == "0", F.col("ref")).otherwise(
                F.col(f"{side}_alts")[i.cast("int") - 1]
            ),
        )
    )
    return state, F.when(missing, F.lit(None)).otherwise(resolved)


def _gt_side(df: DataFrame, side: str, sample: str | None) -> DataFrame:
    g = df.select(
        "contig", "start", "ref", F.col("alts").alias(f"{side}_alts"),
        F.lit(1).alias(f"{side}_present"),
        F.explode("genotypes").alias("g"),
    ).select(
        "contig", "start", "ref", f"{side}_alts", f"{side}_present",
        F.col("g.sample").alias("sample"), F.col("g.gt").alias(f"{side}_gt"),
    )
    if sample is not None:
        g = g.filter(F.col("sample") == sample).drop("sample")
    return g


def genotype_concordance(
    truth: DataFrame,
    eval_df: DataFrame,
    truth_sample: str | None = None,
    eval_sample: str | None = None,
) -> DataFrame:
    """Genotype concordance confusion matrix between two call sets
    (GATK GenotypeConcordance / bcftools gtcheck analog).

    Sites are matched on (contig, POS, REF); genotypes are compared by
    their RESOLVED allele multisets, so allele reordering and phasing
    never produce false discordance. Sites present in only one set
    count against the other side as state 'NO_SITE'. When
    ``truth_sample``/``eval_sample`` are given, each side is restricted
    to that sample and matching is site-level (the bcftools-gtcheck
    sample-pair shape); otherwise samples must match by name (the
    multi-sample GATK shape).

    Output: (truth_state, eval_state, n_sites, n_gt_match) — states in
    {HOM_REF, HET, HOM_VAR, MISSING, NO_SITE}; ``n_gt_match`` counts
    rows whose resolved allele sets are identical (only meaningful on
    the diagonal-ish cells; NO_SITE rows are always 0).

    Plan shape: explode per-sample (shuffle-free), one equi-join on
    (contig, start, ref[, sample]) — AQE-planned, broadcastable when
    one side is a small truth panel — then a groupBy over a ≤25-row
    key space: map-side combinable, output bounded by the state grid,
    never by cohort size.
    """
    on = ["contig", "start", "ref"]
    t = _gt_side(truth, "t", truth_sample)
    e = _gt_side(eval_df, "e", eval_sample)
    if truth_sample is None and eval_sample is None:
        on = on + ["sample"]
    j = t.join(e, on, "full_outer")
    t_state, t_all = _gt_state_and_alleles("t")
    e_state, e_all = _gt_state_and_alleles("e")
    # a side absent from the join entirely (full_outer filled its
    # non-nullable presence marker with null) is NO_SITE
    t_state = F.when(F.col("t_present").isNull(), "NO_SITE").otherwise(t_state)
    e_state = F.when(F.col("e_present").isNull(), "NO_SITE").otherwise(e_state)
    match = (
        t_all.isNotNull() & e_all.isNotNull() & (t_all == e_all)
    ).cast("long")
    return (
        j.select(t_state.alias("truth_state"), e_state.alias("eval_state"), match.alias("m"))
        .groupBy("truth_state", "eval_state")
        .agg(F.count("*").alias("n_sites"), F.sum("m").alias("n_gt_match"))
    )


def split_multiallelics(df: DataFrame, number_a_keys: tuple = ("AF", "AC")) -> DataFrame:
    """bcftools ``norm -m-`` analog: one output row per ALT allele.

    Biallelic rows pass through untouched. For split rows, genotype
    allele indexes are remapped per the bcftools convention — indexes
    pointing at THIS alt become 1, indexes pointing at other alts
    become 0 (ref), '.' stays missing — and comma-lists in INFO keys
    named in ``number_a_keys`` (Number=A semantics) are sliced to this
    alt's element; all other INFO keys pass through verbatim.

    Pure per-row fan-out (posexplode over a ≤#alts array) — shuffle-free,
    output rows = total ALT count.
    """
    multi = F.size("alts") > 1
    idx = F.col("__ai")  # 0-based alt index
    # remap one GT string: split on / or |, map each allele index token
    remap = F.transform(
        F.col("genotypes"),
        lambda g: F.struct(
            g["sample"].alias("sample"),
            F.when(g["gt"].isNull(), F.lit(None).cast("string"))
            .otherwise(
                F.array_join(
                    F.transform(
                        F.split(g["gt"], r"[/|]"),
                        lambda a: F.when(a == ".", a).when(
                            a.cast("int") == idx + 1, F.lit("1")
                        ).otherwise(F.lit("0")),
                    ),
                    "/",
                )
            )
            .alias("gt"),
            g["attrs"].alias("attrs"),
        ),
    )
    sliced_info = F.map_from_entries(
        F.transform(
            F.map_entries("info"),
            lambda e: F.struct(
                e["key"].alias("key"),
                F.when(
                    e["key"].isin(*number_a_keys)
                    & (F.size(F.split(e["value"], ",")) > idx),
                    F.split(e["value"], ",")[idx],
                )
                .otherwise(e["value"])
                .alias("value"),
            ),
        )
    )
    split_rows = (
        df.filter(multi)
        .select("*", F.posexplode("alts").alias("__ai", "__alt"))
        .withColumn("alts", F.array(F.col("__alt")))
        .withColumn("genotypes", F.when(F.col("genotypes").isNull(), F.col("genotypes")).otherwise(remap))
        .withColumn("info", F.when(F.col("info").isNull(), F.col("info")).otherwise(sliced_info))
        .drop("__ai", "__alt")
    )
    return df.filter(~multi | F.col("alts").isNull()).unionByName(split_rows)


def _run_len_sql(a: str, b: str, from_end: bool) -> str:
    """SQL for the length of the common prefix/suffix run of string
    expressions ``a`` and ``b``, capped at min(len)-1 (parsimony keeps
    >= 1 base of each allele). The aggregate counts only while
    CONSECUTIVE positions matched (acc = i-1 gate). The cap guard is
    explicit because Spark's sequence(1, 0) produces a DESCENDING
    [1, 0], not an empty range."""
    if from_end:
        ca = f"substring({a}, length({a}) - i + 1, 1)"
        cb = f"substring({b}, length({b}) - i + 1, 1)"
    else:
        ca = f"substring({a}, i, 1)"
        cb = f"substring({b}, i, 1)"
    cap = f"(least(length({a}), length({b})) - 1)"
    seq = f"(case when {cap} < 1 then cast(array() as array<int>) else sequence(1, {cap}) end)"
    return (
        f"aggregate({seq}, 0, "
        f"(acc, i) -> case when acc = i - 1 and {ca} = {cb} then i else acc end)"
    )


def trim_variants(df: DataFrame) -> DataFrame:
    """Parsimony trim (bcftools norm realignment's trim step): remove
    the longest shared SUFFIX, then the longest shared PREFIX, between
    REF and every ALT, keeping at least one base of each and advancing
    POS (and recomputing END) by the prefix length. Alleles are trimmed
    only by what is shared across ALL alts of the row, so run
    ``split_multiallelics`` first for per-alt parsimony. Symbolic
    alleles (<NON_REF>, <DEL>, ...), breakends, and missing-alt rows
    pass through unchanged.

    Pure column expressions (two higher-order aggregates per row) — no
    shuffle, no Python in the row path.
    """
    symbolic = (
        "exists(alts, a -> a like '<%' or instr(a, '[') > 0 or instr(a, ']') > 0)"
    )
    trimmable = F.expr(
        f"alts is not null and size(alts) > 0 and not {symbolic} "
        "and (length(ref) > 1 or exists(alts, a -> length(a) > 1))"
    )
    suf = F.expr(
        "array_min(transform(alts, a -> " + _run_len_sql("ref", "a", True) + "))"
    )
    d = df.withColumn("__trim", trimmable).withColumn(
        "__suf", F.when(F.col("__trim"), suf).otherwise(F.lit(0))
    )
    d = d.withColumn(
        "__ref1", F.expr("substring(ref, 1, length(ref) - __suf)")
    ).withColumn(
        "__alts1",
        F.when(
            F.col("__suf") > 0,
            F.expr("transform(alts, a -> substring(a, 1, length(a) - __suf))"),
        ).otherwise(F.col("alts")),
    )
    pre = F.expr(
        "array_min(transform(__alts1, a -> " + _run_len_sql("__ref1", "a", False) + "))"
    )
    d = d.withColumn("__pre", F.when(F.col("__trim"), pre).otherwise(F.lit(0)))
    return (
        d.withColumn("start", F.col("start") + F.col("__pre"))
        .withColumn("ref", F.expr("substring(__ref1, __pre + 1)"))
        .withColumn(
            "alts",
            F.when(
                F.col("__pre") > 0,
                F.expr("transform(__alts1, a -> substring(a, __pre + 1))"),
            ).otherwise(F.col("__alts1")),
        )
        # untrimmable rows (symbolic/END-carrying gVCF blocks) keep their
        # original END; trimmed rows get END = POS + len(ref') - 1
        .withColumn(
            "end",
            F.when(F.col("__trim"), F.col("start") + F.length("ref") - 1).otherwise(
                F.col("end")
            ),
        )
        .drop("__trim", "__suf", "__ref1", "__alts1", "__pre")
    )


def left_align_variants(
    df: DataFrame,
    spark,
    fasta_path: str,
    max_shift: int = 200,
    max_indel_len: int = 1000,
    window: int = 1_000_000,
) -> DataFrame:
    """Reference-guided left-alignment of pure indels (bcftools norm's
    realign step / GATK LeftAlignAndTrimVariants). Together with
    ``split_multiallelics`` + ``trim_variants`` this completes the
    normalization triple; run split+trim FIRST (only biallelic,
    parsimony-trimmed rows are shifted; everything else passes through
    unchanged). Variants must be reference-consistent (REF equals the
    fasta at POS) — the closed form below reads the indel's repeat
    context from the reference, which equals bcftools' allele-string
    chopping only when REF actually matches the reference.

    A trimmed pure indel is REF=a, ALT=a+I (insertion) or REF=a+D,
    ALT=a (deletion), anchor base a = ref[POS]. bcftools' realign loop
    (chop equal last bases; on empty allele, extend left from the
    reference) admits a closed form: one leftward step rotates the
    indel sequence S right by one and is legal iff S[-1] equals the
    reference base at the current POS, so after j steps the rotated
    sequence's last base is S[(m-1-j) mod m] (m = len(S); for
    deletions S sits in the reference, where the identity
    ref[p-j+m] == ref[p-j] is the same test). The total shift is
    therefore the longest run of consecutive j = 0,1,... with::

        S[(m-1-j) mod m] == ref[POS-j]

    which one SQL ``aggregate`` over ``sequence(0, cap)`` computes
    per row — the same consecutive-run gate as ``trim_variants``.

    Reference context: each candidate row joins to the
    ``read_fasta_windows`` window containing ``POS - max_shift``
    (overlap = max_shift + max_indel_len guarantees the window's seq
    covers ``[POS - max_shift, POS + len(REF)]``). The join is a
    plain equi-join on (contig, window-id): the genome side is
    genome/window rows regardless of cohort size, so at 100 TB of
    variants the shuffle is dominated by the variant side's single
    repartition and the per-row work stays in whole-stage codegen.
    Rows shifted into a window edge (POS - max_shift < window body
    start is impossible by construction; hitting j = cap means the
    repeat run continues past max_shift) stop at the cap, exactly
    like bcftools' -w limit. Indels longer than ``max_indel_len``
    pass through unshifted.
    """
    from disq_spark.sources.fasta import read_fasta_windows

    ref_w = read_fasta_windows(
        spark, fasta_path, window=window, overlap=max_shift + max_indel_len
    ).select(
        "contig",
        ((F.col("start") - 1) / window).cast("long").alias("__wid"),
        F.col("start").alias("__wstart"),
        F.col("seq").alias("__ctx"),
    )

    a0 = F.col("alts")[0]
    pure_ins = (
        (F.length("ref") == 1)
        & (F.length(a0) > 1)
        & (F.expr("substring(alts[0], 1, 1)") == F.col("ref"))
    )
    pure_del = (
        (F.length(a0) == 1)
        & (F.length("ref") > 1)
        & (F.expr("substring(ref, 1, 1)") == a0)
    )
    candidate = (
        F.col("alts").isNotNull()
        & (F.size("alts") == 1)
        & a0.isNotNull()
        & ~a0.startswith("<")
        & (F.instr(a0, "[") == 0)
        & (F.instr(a0, "]") == 0)
        & (pure_ins | pure_del)
        & (F.greatest(F.length("ref"), F.length(a0)) <= max_indel_len + 1)
        & (F.col("start") > 1)
    )

    cand = df.filter(candidate).withColumn(
        "__wid",
        (F.greatest(F.col("start") - max_shift, F.lit(1)) - 1) / window,
    ).withColumn("__wid", F.col("__wid").cast("long"))
    rest = df.filter(~candidate | candidate.isNull())

    j = cand.join(ref_w, ["contig", "__wid"], "left")

    # S and its length; off = 0-based index of POS within __ctx
    s_expr = (
        "case when length(ref) = 1 then substring(alts[0], 2) "
        "else substring(ref, 2) end"
    )
    off = "(start - __wstart)"
    # consecutive-run aggregate: acc counts matches at j = 0..acc-1
    # sequence(0, cap) admits shift = cap + 1 when every j matches, so
    # cap is one below the shift budget min(max_shift, off)
    cap = f"(least({max_shift}, cast({off} as int)) - 1)"
    match_j = (
        f"substring(__s, pmod(length(__s) - 1 - i, length(__s)) + 1, 1) = "
        f"upper(substring(__ctx, cast({off} as int) - i + 1, 1))"
    )
    shift_expr = (
        f"case when __ctx is null or {cap} < 0 then 0 else "
        f"aggregate(sequence(0, {cap}), 0, "
        f"(acc, i) -> case when acc = i and {match_j} then i + 1 else acc end) end"
    )
    j = (
        j.withColumn("__s", F.upper(F.expr(s_expr)))
        .withColumn("__shift", F.expr(shift_expr))
    )
    m = "length(__s)"
    # materialize the rebuilt pieces BEFORE touching `start`: every
    # expression below indexes __ctx relative to the ORIGINAL POS
    anchor = f"upper(substring(__ctx, cast({off} as int) - __shift + 1, 1))"
    # rotated indel sequence after __shift left steps (rotate-right^shift)
    rot = (
        f"concat(substring(__s, {m} - pmod(__shift, {m}) + 1), "
        f"substring(__s, 1, {m} - pmod(__shift, {m})))"
    )
    # deletion: D' read straight from the reference at the new POS
    del_seq = f"upper(substring(__ctx, cast({off} as int) - __shift + 2, {m}))"
    is_ins = "length(ref) = 1"
    aligned = (
        j.withColumn(
            "__ref2",
            F.expr(
                f"case when __shift = 0 then ref "
                f"when {is_ins} then {anchor} "
                f"else concat({anchor}, {del_seq}) end"
            ),
        )
        .withColumn(
            "__alts2",
            F.expr(
                f"case when __shift = 0 then alts "
                f"when {is_ins} then array(concat({anchor}, {rot})) "
                f"else array({anchor}) end"
            ),
        )
        .withColumn("start", F.col("start") - F.col("__shift"))
        .withColumn("ref", F.col("__ref2"))
        .withColumn("alts", F.col("__alts2"))
        .withColumn("end", F.col("start") + F.length("ref") - 1)
        .drop("__wid", "__wstart", "__ctx", "__s", "__shift", "__ref2", "__alts2")
    )
    return rest.unionByName(aligned)


def merge_variant_sets(
    dfs: list[DataFrame],
    sample_lists: list[list[str]] | None = None,
) -> DataFrame:
    """Multi-way VCF sample merge (bcftools merge analog): one row per
    (contig, POS, REF) site across all inputs, ALT alleles unified in
    first-appearance order (input order, then allele order -- bcftools'
    file-order semantics made deterministic), every genotype's allele
    indexes remapped into the merged ALT list with phasing separators
    preserved, and samples from inputs lacking a site filled with the
    missing genotype './.' (diploid assumption, as bcftools). AN / AC /
    AF are recomputed from the merged genotypes (bcftools recalculates
    these); other INFO fields are dropped. QUAL is the max over inputs,
    IDs and failing FILTER names are unioned. Records sharing POS but
    differing in REF stay separate rows (bcftools -m none shape for
    mismatched REFs).

    ``sample_lists[i]`` names input i's samples; when omitted each
    input is scanned once for its distinct sample set (driver-bounded
    by cohort sample count). Genotypes in the output are sorted by
    sample name.

    Plan shape: two site-keyed shuffles (allele first-appearance rank,
    then the site merge); per-site state is #inputs structs, so reducer
    rows stay O(samples) regardless of cohort row count. All remapping
    is higher-order column expressions -- no Python in the row path.
    """
    from pyspark.sql import functions as F

    if sample_lists is None:
        sample_lists = []
        for d in dfs:
            s = [
                r[0]
                for r in d.select(
                    F.explode(F.expr("coalesce(genotypes, array())")).alias("g")
                )
                .select(F.col("g.sample"))
                .distinct()
                .collect()
            ]
            sample_lists.append(sorted(s))

    tagged = None
    for i, d in enumerate(dfs):
        t = d.withColumn("__src", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)

    key = ["contig", "start", "ref"]

    # 1. merged ALT list per site, first-appearance order
    alt_rank = (
        tagged.filter(F.col("alts").isNotNull())
        .select(*key, "__src", F.posexplode("alts").alias("__ai", "__alt"))
        .groupBy(*key, "__alt")
        .agg(F.min(F.struct("__src", "__ai")).alias("__rank"))
    )
    merged_alts = alt_rank.groupBy(*key).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(__rank, __alt))), x -> x.__alt)"
        ).alias("__malts")
    )

    # 2. remap each row's genotypes into merged-ALT index space
    j = tagged.join(merged_alts, key, "left")
    remap_tok = (
        "case when t in ('/', '|', '.') then t "
        "when t = '0' then '0' "
        "else cast(array_position(__malts, alts[cast(t as int) - 1]) as string) end"
    )
    remapped = j.withColumn(
        "genotypes",
        F.expr(
            "transform(coalesce(genotypes, array()), g -> struct("
            "g.sample as sample, "
            "case when g.gt is null then null else "
            f"array_join(transform(regexp_extract_all(g.gt, '([0-9]+|[/|.])', 1), t -> {remap_tok}), '') "
            "end as gt, g.attrs as attrs))"
        ),
    )

    # 3. site merge: union genotypes, fill absent inputs' samples
    all_samples = F.array(
        *[
            F.struct(
                F.lit(i).alias("src"),
                F.array(*[F.lit(s) for s in sl]).alias("samples"),
            )
            for i, sl in enumerate(sample_lists)
        ]
    )
    site = (
        remapped.groupBy(*key)
        .agg(
            F.max("qual").alias("qual"),
            F.first("__malts", ignorenulls=True).alias("alts"),
            F.expr(
                "array_distinct(flatten(collect_list(coalesce(ids, array()))))"
            ).alias("__ids"),
            F.expr("max(ids is not null)").alias("__has_ids"),
            F.expr(
                "array_distinct(flatten(collect_list(coalesce(filters, array()))))"
            ).alias("__filt"),
            F.expr("max(filters is not null)").alias("__has_filt"),
            F.expr("flatten(collect_list(genotypes))").alias("__g"),
            F.collect_set("__src").alias("__present"),
        )
        .withColumn("__all", all_samples)
        .withColumn(
            "__missing",
            F.expr(
                "flatten(transform("
                "filter(__all, a -> not array_contains(__present, a.src)), "
                "a -> transform(a.samples, s -> struct("
                "s as sample, './.' as gt, "
                "cast(null as map<string,string>) as attrs))))"
            ),
        )
        .withColumn(
            "genotypes",
            F.expr("array_sort(concat(__g, __missing), (a, b) -> "
                   "case when a.sample < b.sample then -1 "
                   "when a.sample > b.sample then 1 else 0 end)"),
        )
    )

    # 4. recompute AN / AC / AF from the merged genotypes
    alleles = (
        "flatten(transform(genotypes, g -> "
        "filter(regexp_extract_all(coalesce(g.gt, ''), '([0-9]+|\\\\.)', 1), "
        "t -> t <> '.')))"
    )
    an = f"size({alleles})"
    ac = (
        f"transform(sequence(1, size(alts)), k -> "
        f"size(filter({alleles}, t -> cast(t as int) = k)))"
    )
    info = (
        f"case when alts is null or size(alts) = 0 then "
        f"map('AN', cast({an} as string)) else "
        f"map('AN', cast({an} as string), "
        f"'AC', array_join(transform({ac}, c -> cast(c as string)), ','), "
        f"'AF', case when {an} = 0 then array_join(transform({ac}, c -> '0'), ',') "
        f"else array_join(transform({ac}, c -> cast(round(c / {an}, 6) as string)), ',') end) "
        f"end"
    )
    return site.select(
        "contig",
        "start",
        (F.col("start") + F.length("ref") - 1).alias("end"),
        F.when(F.col("__has_ids"), F.col("__ids")).alias("ids"),
        "ref",
        "alts",
        "qual",
        F.when(F.col("__has_filt"), F.col("__filt")).alias("filters"),
        F.expr(info).alias("info"),
        "genotypes",
    )


def hard_filter(df: DataFrame, filters: dict[str, str]) -> DataFrame:
    """GATK VariantFiltration analog: evaluate named boolean
    expressions over typed INFO fields and RECORD the failing filter
    names in ``filters`` (rows are annotated, never dropped -- GATK
    semantics). An expression references INFO keys directly (``QD <
    2.0``); keys are bound as DOUBLE via ``try_cast`` so malformed or
    missing values make the expression NULL, which counts as NOT
    failing (GATK's missing-annotation behavior with
    --missing-values-evaluate-as-failing=false, the default).

    Rows that fail nothing get ``filters = []`` (PASS); pre-existing
    failing names are preserved and extended. Pure column expressions,
    zero shuffle.
    """
    import re as _re

    failing = []
    for name, expr in filters.items():
        bound = _re.sub(
            r"\b([A-Za-z_][A-Za-z0-9_]*)\b(?!\s*\()",
            lambda m: (
                f"try_cast(try_element_at(info, '{m.group(1)}') as double)"
                if m.group(1) not in ("AND", "OR", "NOT", "and", "or", "not",
                                       "is", "null", "true", "false",
                                       "between", "in", "case", "when",
                                       "then", "else", "end")
                else m.group(1)
            ),
            expr,
        )
        failing.append(
            F.when(F.expr(bound), F.array(F.lit(name))).otherwise(F.array())
        )
    all_failing = F.array_distinct(
        F.concat(F.coalesce(F.col("filters"), F.array()), *failing)
    )
    return df.withColumn("filters", all_failing)


def mendelian_violations(
    df: DataFrame, trios: list[tuple[str, str, str]]
) -> DataFrame:
    """Mendelian-violation tally per trio (GATK
    CollectMendelianViolationMetrics / PedigreeValidation analog).

    ``trios`` is a list of (child, father, mother) sample names. For
    every site where all three genotypes are called (allele indexes
    are row-scoped, so multiallelic sites work unchanged), a
    violation is a child allele pair that CANNOT be composed from one
    paternal + one maternal allele (allele-set test on the resolved
    index multisets; phasing ignored). Output one row per trio:
    (child, father, mother, n_sites, n_called, n_violations,
    violation_rate).

    Plan: the genotypes array is probed by sample name with
    ``filter(...)[0]`` per trio (no explode, no join -- trios are a
    plan literal), then one map-side-combinable groupBy on the trio
    id. Scales with rows x trios, output bounded by #trios.
    """
    rows = None
    for child, father, mother in trios:
        def gt_of(s):
            return (
                f"element_at(filter(genotypes, g -> g.sample = '{s}'), 1).gt"
            )

        c, fa, mo = gt_of(child), gt_of(father), gt_of(mother)

        def alleles(e):
            return f"regexp_extract_all(coalesce({e}, '.'), '([0-9]+|\\\\.)', 1)"

        called = (
            f"size(filter({alleles(c)}, t -> t = '.')) = 0 and "
            f"size(filter({alleles(fa)}, t -> t = '.')) = 0 and "
            f"size(filter({alleles(mo)}, t -> t = '.')) = 0 and "
            f"{c} is not null and {fa} is not null and {mo} is not null"
        )
        # diploid check: child = one allele from father x one from mother
        viol = (
            f"not exists({alleles(fa)}, pa -> exists({alleles(mo)}, ma -> "
            f"(pa = {alleles(c)}[0] and ma = {alleles(c)}[1]) or "
            f"(ma = {alleles(c)}[0] and pa = {alleles(c)}[1])))"
        )
        r = df.select(
            F.lit(child).alias("child"),
            F.lit(father).alias("father"),
            F.lit(mother).alias("mother"),
            F.expr(called).alias("__called"),
            F.expr(f"case when {called} and size({alleles(c)}) = 2 then {viol} "
                   "else false end").alias("__viol"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return (
        rows.groupBy("child", "father", "mother")
        .agg(
            F.count("*").alias("n_sites"),
            F.sum(F.col("__called").cast("long")).alias("n_called"),
            F.sum(F.col("__viol").cast("long")).alias("n_violations"),
            F.round(
                F.sum(F.col("__viol").cast("long"))
                / F.nullif(F.sum(F.col("__called").cast("long")), F.lit(0)),
                6,
            ).alias("violation_rate"),
        )
    )


def isec_variant_sets(dfs: list[DataFrame], by_alt: bool = True) -> DataFrame:
    """Call-set intersection/complement accounting (bcftools isec
    analog): every site across the N inputs annotated with its
    presence bitmask. ``by_alt`` matches on (contig, POS, REF, ALT
    set) -- bcftools' default record collapse; with ``by_alt=False``
    matching is site-level (contig, POS, REF).

    Output: (contig, start, ref, alt, sets, n_sets) where ``sets`` is
    the comma-free string bitmask ('101' = present in inputs 0 and 2,
    bcftools' sites.txt column) and n_sets its popcount. Feed a filter
    on ``sets`` to materialize any of bcftools' -n/-C selections
    (private records, complements, exact-k intersections).

    One union + one groupBy on the site key: a single shuffle, output
    bounded by distinct sites.
    """
    from pyspark.sql import functions as F

    n = len(dfs)
    tagged = None
    for i, d in enumerate(dfs):
        t = d.select(
            "contig",
            "start",
            "ref",
            F.array_join(
                F.array_sort(F.coalesce("alts", F.array())), ","
            ).alias("alt") if by_alt else F.lit("").alias("alt"),
            F.lit(i).alias("__src"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    present = tagged.groupBy("contig", "start", "ref", "alt").agg(
        F.collect_set("__src").alias("__p")
    )
    mask = F.concat(
        *[
            F.when(F.array_contains("__p", i), F.lit("1")).otherwise(F.lit("0"))
            for i in range(n)
        ]
    )
    return present.select(
        "contig",
        "start",
        "ref",
        "alt",
        mask.alias("sets"),
        F.size("__p").alias("n_sets"),
    )


def pairwise_ibs(df: DataFrame, samples: list[str] | None = None) -> DataFrame:
    """Identity-by-state matrix between samples (PLINK --distance ibs /
    bcftools gtcheck counting): over biallelic SNP sites where both
    samples are called, classify each pair-site by shared alleles
    (IBS2 = same dosage, IBS1 = dosage differs by 1, IBS0 = opposite
    homozygotes) and report (sample_a, sample_b, n_sites, ibs0, ibs1,
    ibs2, ibs_similarity = (ibs2 + ibs1/2) / n_sites).

    Dosage = non-ref allele count (diploid 0/1/2; other ploidies and
    missing calls are excluded site-wise). ``samples`` bounds the pair
    space (recommended for cohort-scale inputs: the site self-join
    emits |pairs| rows per site; restricting to a panel keeps that a
    constant factor -- the join itself is a single site-keyed shuffle,
    map-side combinable into the per-pair aggregate).
    """
    snp = df.filter(_is_biallelic_snp())
    g = snp.select(
        "contig", "start", "ref", F.explode("genotypes").alias("g")
    ).select(
        "contig",
        "start",
        F.col("g.sample").alias("sample"),
        F.col("g.gt").alias("gt"),
    )
    if samples is not None:
        g = g.filter(F.col("sample").isin(*samples))
    alleles = F.split(F.col("gt"), r"[/|]")
    called = (
        F.col("gt").isNotNull()
        & ~F.array_contains(alleles, ".")
        & (F.size(alleles) == 2)
    )
    dosage = F.size(F.filter(alleles, lambda a: a == "1"))
    d = g.filter(called).select(
        "contig", "start", "sample", dosage.alias("dos")
    )
    a = d.select(
        "contig", "start", F.col("sample").alias("sample_a"), F.col("dos").alias("da")
    )
    b = d.select(
        "contig", "start", F.col("sample").alias("sample_b"), F.col("dos").alias("db")
    )
    pairs = a.join(b, ["contig", "start"]).filter(
        F.col("sample_a") < F.col("sample_b")
    )
    ibs = 2 - F.abs(F.col("da") - F.col("db"))
    return (
        pairs.groupBy("sample_a", "sample_b")
        .agg(
            F.count("*").alias("n_sites"),
            F.sum((ibs == 0).cast("long")).alias("ibs0"),
            F.sum((ibs == 1).cast("long")).alias("ibs1"),
            F.sum((ibs == 2).cast("long")).alias("ibs2"),
        )
        .withColumn(
            "ibs_similarity",
            F.round(
                (F.col("ibs2") + F.col("ibs1") / 2) / F.col("n_sites"), 6
            ),
        )
    )


def king_kinship(
    df: DataFrame,
    samples: list[str] | None = None,
    estimator: str = "between",
) -> DataFrame:
    """KING-robust pairwise kinship estimator (Manichaikul et al. 2010;
    PLINK2 ``--make-king``): over biallelic SNP sites where BOTH samples
    carry a called diploid genotype. Two published forms:

    ``estimator="between"`` (default — the KING-robust *between-family*
    estimator, what PLINK2 ``--make-king`` computes; Manichaikul eq. 11):

        phi = 1/2 + (2*N_het,het - 4*N_opp_hom - N_het_a - N_het_b)
                    / (4 * min(N_het_a, N_het_b))

    ``estimator="within"`` (the *within-family* / homogeneous-population
    form, Manichaikul eq. 9):

        phi = (N_het,het - 2 * N_opp_hom) / (N_het_a + N_het_b)

    The two diverge exactly for heterozygosity-imbalanced pairs
    (admixture, contamination) — the case the robust between-family
    form exists for, hence it is the default and the PLINK2 parity
    claim applies to it only. ``N_het_a``/``N_het_b`` count the
    heterozygous sites of each sample *restricted to the shared called
    sites*. Degree calls use the PLINK2 inference cutoffs (powers of
    2^-x): > 0.3536 duplicate/MZ, > 0.1768 first-degree, > 0.0884
    second-degree, > 0.0442 third-degree, else unrelated. A pair whose
    denominator is zero (``min`` het count for between, het sum for
    within) gets a NULL kinship and NULL degree.

    Scale shape: identical to :func:`pairwise_ibs` — one site-keyed
    shuffle into the pair self-join, then a map-side-combinable
    aggregate of 5 counters per pair. The per-site fan-out is
    |pairs|; pass ``samples`` to bound the pair space on cohort-scale
    inputs (for all-vs-all biobank KING, run per sample-block pairs so
    each job's fan-out stays constant).

    The reference (disq) carries genotypes opaquely inside the htsjdk
    VariantContext and defers all analysis to downstream tools; this is
    a first-class distributed analog of one of those tools.
    """
    snp = df.filter(_is_biallelic_snp())
    g = snp.select(
        "contig", "start", F.explode("genotypes").alias("g")
    ).select(
        "contig",
        "start",
        F.col("g.sample").alias("sample"),
        F.col("g.gt").alias("gt"),
    )
    if samples is not None:
        g = g.filter(F.col("sample").isin(*samples))
    alleles = F.split(F.col("gt"), r"[/|]")
    called = (
        F.col("gt").isNotNull()
        & ~F.array_contains(alleles, ".")
        & (F.size(alleles) == 2)
    )
    dosage = F.size(F.filter(alleles, lambda a: a == "1"))
    d = g.filter(called).select("contig", "start", "sample", dosage.alias("dos"))
    a = d.select(
        "contig", "start", F.col("sample").alias("sample_a"), F.col("dos").alias("da")
    )
    b = d.select(
        "contig", "start", F.col("sample").alias("sample_b"), F.col("dos").alias("db")
    )
    pairs = a.join(b, ["contig", "start"]).filter(
        F.col("sample_a") < F.col("sample_b")
    )
    agg = pairs.groupBy("sample_a", "sample_b").agg(
        F.count("*").alias("n_sites"),
        F.sum(((F.col("da") == 1) & (F.col("db") == 1)).cast("long")).alias("het_het"),
        F.sum((F.abs(F.col("da") - F.col("db")) == 2).cast("long")).alias("opp_hom"),
        F.sum((F.col("da") == 1).cast("long")).alias("het_a"),
        F.sum((F.col("db") == 1).cast("long")).alias("het_b"),
    )
    if estimator == "between":
        denom = 4 * F.least(F.col("het_a"), F.col("het_b"))
        numer = (
            2 * F.col("het_het")
            - 4 * F.col("opp_hom")
            - F.col("het_a")
            - F.col("het_b")
        )
        phi = F.when(denom > 0, F.round(0.5 + numer / denom, 6))
    elif estimator == "within":
        denom = F.col("het_a") + F.col("het_b")
        phi = F.when(
            denom > 0,
            F.round((F.col("het_het") - 2 * F.col("opp_hom")) / denom, 6),
        )
    else:
        raise ValueError(f"estimator must be 'between' or 'within': {estimator!r}")
    degree = (
        F.when(phi.isNull(), F.lit(None).cast("string"))
        .when(phi > 0.353553, F.lit("DUPLICATE"))
        .when(phi > 0.176777, F.lit("FIRST_DEGREE"))
        .when(phi > 0.088388, F.lit("SECOND_DEGREE"))
        .when(phi > 0.044194, F.lit("THIRD_DEGREE"))
        .otherwise(F.lit("UNRELATED"))
    )
    return agg.withColumn("kinship", phi).withColumn("degree", degree)


def runs_of_homozygosity(
    df: DataFrame,
    min_sites: int = 25,
    min_bp: int = 0,
) -> DataFrame:
    """Runs of homozygosity per sample (PLINK ``--homozyg`` / bcftools
    roh analog, het-strict variant): over called diploid genotypes at
    biallelic SNP sites, a run is a maximal streak of consecutive
    homozygous calls (dosage 0 or 2) along a contig, broken by any
    heterozygous call; uncalled sites are invisible (neither extend nor
    break). Emits one row per run with ``n_sites >= min_sites`` and
    span ``>= min_bp``: (sample, contig, start, end, n_sites, n_hom_alt,
    span_bp).

    Plan shape: one shuffle to sort each (sample, contig) window, then
    a gap-and-islands group — run id = running count of preceding het
    breaks, a prefix sum inside the sorted window. Per-window state is
    the site count of one sample on one contig (~1-4M rows at WGS
    scale), well inside a single task; the pair explosion of the
    kinship/IBS operators never happens here.
    """
    snp = df.filter(_is_biallelic_snp())
    g = snp.select(
        "contig", "start", F.explode("genotypes").alias("g")
    ).select(
        "contig",
        "start",
        F.col("g.sample").alias("sample"),
        F.col("g.gt").alias("gt"),
    )
    alleles = F.split(F.col("gt"), r"[/|]")
    called = (
        F.col("gt").isNotNull()
        & ~F.array_contains(alleles, ".")
        & (F.size(alleles) == 2)
    )
    dosage = F.size(F.filter(alleles, lambda a: a == "1"))
    d = g.filter(called).select(
        "sample", "contig", "start", dosage.alias("dos")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("sample", "contig")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = d.withColumn("is_het", (F.col("dos") == 1).cast("int")).withColumn(
        "run_id", F.sum("is_het").over(w)
    )
    return (
        runs.filter(F.col("is_het") == 0)
        .groupBy("sample", "contig", "run_id")
        .agg(
            F.min("start").alias("start"),
            F.max("start").alias("end"),
            F.count("*").alias("n_sites"),
            F.sum((F.col("dos") == 2).cast("long")).alias("n_hom_alt"),
        )
        .withColumn("span_bp", F.col("end") - F.col("start") + 1)
        .filter(
            (F.col("n_sites") >= min_sites) & (F.col("span_bp") >= min_bp)
        )
        .drop("run_id")
    )


def annotate_variants(
    variants: DataFrame,
    genes: DataFrame,
    near_bp: int = 2000,
) -> DataFrame:
    """VEP/ANNOVAR-lite positional consequence annotation against a
    gene model: adds (consequence, gene, gene_distance) to every
    variant row.

    ``genes`` carries (contig, start, end, gene, strand) with optional
    ``exon_starts``/``exon_ends`` arrays (refFlat/genePred shape,
    1-based closed). Consequences, by position of the variant's start:

    - EXONIC   — inside a gene and inside one of its exons
    - INTRONIC — inside a gene with an exon model, but not in an exon
    - GENIC    — inside a gene that has no exon model
    - UPSTREAM / DOWNSTREAM — within ``near_bp`` of the nearest gene
      edge, oriented by that gene's strand (upstream = TSS side)
    - INTERGENIC — anything else; still reports the nearest gene and
      distance when the contig has one

    Overlap ties pick exonic over intronic/genic, then the
    lexicographically first gene name (deterministic). Nearest-edge
    ties prefer the left gene.

    Scale shape: the gene model is a genuine small dimension (every
    public annotation set is < ~10^5 rows), so it is collapsed to ONE
    row per contig — a sorted array of gene structs — and broadcast.
    The variant side never shuffles: classification is a broadcast
    hash join plus pure higher-order column expressions
    (filter/exists/array_max over the per-contig array, O(genes per
    contig) comparisons per variant inside whole-stage codegen). At
    10^5 genes-per-contig scale, switch the model to genome tiles with
    per-tile nearest summaries before broadcast; the variant-side plan
    is unchanged.
    """
    gcols = ["contig", "start", "end", "gene", "strand"]
    has_exons = "exon_starts" in genes.columns
    if has_exons:
        g = genes.select(
            *gcols,
            F.coalesce("exon_starts", F.array()).alias("exs"),
            F.coalesce("exon_ends", F.array()).alias("exe"),
            genes["exon_starts"].isNotNull().alias("has_model"),
        )
    else:
        g = genes.select(
            *gcols,
            F.array().cast("array<long>").alias("exs"),
            F.array().cast("array<long>").alias("exe"),
            F.lit(False).alias("has_model"),
        )
    per_contig = (
        g.groupBy("contig")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("start").cast("long").alias("s"),
                        F.col("end").cast("long").alias("e"),
                        F.col("gene").alias("gene"),
                        F.col("strand").alias("strand"),
                        F.col("has_model").alias("has_model"),
                        F.col("exs").cast("array<long>").alias("exs"),
                        F.col("exe").cast("array<long>").alias("exe"),
                    )
                )
            ).alias("garr")
        )
        .withColumnRenamed("contig", "g_contig")
    )
    v = variants.join(
        F.broadcast(per_contig),
        variants["contig"] == per_contig["g_contig"],
        "left",
    ).drop("g_contig")

    pos = F.col("start").cast("long")
    arr = F.col("garr")
    overlapping = F.filter(arr, lambda x: (x.s <= pos) & (pos <= x.e))
    in_exon = lambda x: F.exists(  # noqa: E731
        F.zip_with(x.exs, x.exe, lambda a, b: (a <= pos) & (pos <= b)),
        lambda hit: hit,
    )
    exonic = F.filter(overlapping, lambda x: x.has_model & in_exon(x))
    # deterministic pick: min gene name within the chosen class
    pick_name = lambda a: F.array_min(  # noqa: E731
        F.transform(a, lambda x: x.gene)
    )
    pick_model = lambda a: F.array_max(  # noqa: E731
        F.transform(a, lambda x: x.has_model.cast("int"))
    )
    left_best = F.array_max(
        F.transform(
            F.filter(arr, lambda x: x.e < pos),
            lambda x: F.struct(
                x.e.alias("edge"), x.gene.alias("gene"), x.strand.alias("strand")
            ),
        )
    )
    right_best = F.array_min(
        F.transform(
            F.filter(arr, lambda x: x.s > pos),
            lambda x: F.struct(
                x.s.alias("edge"), x.gene.alias("gene"), x.strand.alias("strand")
            ),
        )
    )
    dl = pos - left_best["edge"]
    dr = right_best["edge"] - pos
    use_left = left_best.isNotNull() & (
        right_best.isNull() | (dl <= dr)
    )
    near = F.when(use_left, left_best).otherwise(right_best)
    ndist = F.when(use_left, dl).otherwise(dr)
    # left gene: variant sits past its end -> downstream of '+', upstream of '-'
    near_cons = F.when(
        ndist > near_bp, F.lit("INTERGENIC")
    ).otherwise(
        F.when(
            use_left,
            F.when(near["strand"] == "+", F.lit("DOWNSTREAM")).otherwise(
                F.lit("UPSTREAM")
            ),
        ).otherwise(
            F.when(near["strand"] == "+", F.lit("UPSTREAM")).otherwise(
                F.lit("DOWNSTREAM")
            )
        )
    )
    genic_model = pick_model(overlapping) == 1
    out = (
        v.withColumn(
            "consequence",
            F.when(arr.isNull(), F.lit("INTERGENIC"))
            .when(F.size(exonic) > 0, F.lit("EXONIC"))
            .when(
                F.size(overlapping) > 0,
                F.when(genic_model, F.lit("INTRONIC")).otherwise(F.lit("GENIC")),
            )
            .when(near.isNull(), F.lit("INTERGENIC"))
            .otherwise(near_cons),
        )
        .withColumn(
            "gene",
            F.when(F.size(F.coalesce(exonic, F.array())) > 0, pick_name(exonic))
            .when(
                F.size(F.coalesce(overlapping, F.array())) > 0,
                # stay inside the winning class (exon-modelled beats not)
                F.when(
                    genic_model,
                    pick_name(F.filter(overlapping, lambda x: x.has_model)),
                ).otherwise(pick_name(overlapping)),
            )
            .otherwise(near["gene"]),
        )
        .withColumn(
            "gene_distance",
            F.when(F.size(F.coalesce(overlapping, F.array())) > 0, F.lit(0))
            .otherwise(ndist)
            .cast("long"),
        )
        .drop("garr")
    )
    return out
