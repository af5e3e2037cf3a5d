"""Byte-identity probe of every sink: format x mode x index.

    python plans/pr7/byte_probe.py REPO OUT.tsv

Imports ``disq_spark`` from REPO, writes seeded reads, variants and FASTQ
records through ``write_bam``/``write_vcf``/``write_cram``/``write_sam``/
``write_fastq`` and ``df.write.format("bam"/"vcf")``, and writes one
``case<TAB>file<TAB>sha256`` line per output file (shard files and index
sidecars included) to OUT.tsv. Run it on two checkouts and ``diff`` the
tables.

Inputs are fixed: seed 7, reads over the three contigs of
``fixtures/ref.fa`` (coordinate-sorted, with unplaced reads last), 600 VCF
sites with genotypes, 300 FASTQ records. Every frame has four partitions
cut by ``parallelize`` slicing: two data slices, an empty one, then the
last data slice, so empty parts and empty shards are covered.

``.crai`` is gzip, whose header carries the write time in seconds; its
row hashes the decompressed payload (marked ``gunzip:``).

``vcf_ds_header_text`` is the one case expected to differ between a
checkout whose ``format("vcf")`` writer takes the sample names from
``header_text`` and one that does not (the latter drops every FORMAT and
sample column).

The ``build_*`` cases index existing files: an index-less copy of the
reads BAM and of the BGZF VCF, each at a split size that cuts it into
several chunks and at 1 GiB (one chunk), ``build_sbi`` at granularity 1
and 4096; header-only BAM and VCF inputs (also written with their
indexes by ``write_bam``/``write_vcf``); and the inputs ``build_tbi``
must refuse (plain text, true gzip, and two BGZF runs that are each
sorted but out of order across the split between them). A case that
raises hashes as ``error:<exception type>``, next to any file it left.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
import shutil
import sys
import tempfile


def _frame(spark, rows, schema):
    """Four partitions: rows[:h] in two slices, an empty slice, rows[h:]."""
    sc = spark.sparkContext
    h = len(rows) * 2 // 3
    rdd = sc.parallelize(rows[:h], 2).union(sc.parallelize([], 1)).union(sc.parallelize(rows[h:], 1))
    return spark.createDataFrame(rdd, schema)


def _reads(ref, rng):
    rows = []
    for contig in ("chrA", "chrB", "chrM"):
        length = ref.fai[contig].length
        for i, start in enumerate(range(1, length - 120, 97)):
            seq = list(ref.get(contig, start, start + 59))
            if i % 4 == 0:
                seq[7] = "A" if seq[7] != "A" else "G"
            rows.append({
                "name": f"{contig}_{i:04d}", "flags": 16 if i % 5 == 0 else 0, "contig": contig,
                "start": start, "end": start + 59, "mapq": 20 + i % 40, "cigar": "60M",
                "mate_contig": contig if i % 3 == 0 else None,
                "mate_start": start + 200 if i % 3 == 0 else None,
                "template_len": 260 if i % 3 == 0 else 0,
                "seq": "".join(seq), "qual": "".join(rng.choice("#+5?AI") for _ in seq),
                "tags": {"NM": "i:1"} if i % 4 == 0 else None,
                "read_group": None,
            })
    for i in range(9):  # unplaced, unmapped: sort last
        rows.append({
            "name": f"u_{i:02d}", "flags": 4, "contig": None, "start": None, "end": None,
            "mapq": None, "cigar": None, "mate_contig": None, "mate_start": None,
            "template_len": 0, "seq": "ACGTN" * 4, "qual": "I" * 20, "tags": None,
            "read_group": None,
        })
    return rows


def _vcf_text(rng):
    lines = [
        "##fileformat=VCFv4.2",
        "##contig=<ID=v1,length=1000000>",
        "##contig=<ID=v2,length=1000000>",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
    ]
    for contig, n in (("v1", 400), ("v2", 200)):
        for i in range(n):
            alt = "C" if i % 7 else "C,GT"
            qual = "." if i % 11 == 0 else str(rng.randrange(10, 99))
            gts = "\t".join(f"{rng.choice(['0/1', '1/1', '0|0', './.'])}:{rng.randrange(60)}" for _ in range(2))
            lines.append(f"{contig}\t{i * 37 + 1}\t.\tA\t{alt}\t{qual}\tPASS\tDP={i}\tGT:DP\t{gts}")
    return "\n".join(lines) + "\n"


def _hash(path: str) -> str:
    with open(path, "rb") as f:
        data = f.read()
    if path.endswith(".crai"):
        return "gunzip:" + hashlib.sha256(gzip.decompress(data)).hexdigest()
    return hashlib.sha256(data).hexdigest()


def _two_run_vcf(path: str) -> int:
    """A BGZF VCF of two runs, each sorted, out of order across them:
    header + v1:100000..199950, then v1:300000 and v1:10..89960. Returns
    the first run's length, the split size that starts a split at the
    second run's first block (whose first line the first split owns)."""
    from disq_spark.formats import bgzf

    def site(pos):
        return f"v1\t{pos}\t.\tA\tC\t50\tPASS\tDP=1\n"

    head = "##fileformat=VCFv4.2\n##contig=<ID=v1,length=1000000>\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    run1 = bgzf.compress_all((head + "".join(site(p) for p in range(100000, 200000, 50))).encode(), terminate=False)
    run2 = bgzf.compress_all((site(300000) + "".join(site(p) for p in range(10, 90000, 50))).encode())
    with open(path, "wb") as f:
        f.write(run1 + run2)
    return len(run1)


def _build_cases(spark, work, reads, variants, header, vheader, src_vcf) -> dict:
    """``build_sbi``/``build_bai``/``build_tbi`` over copies of index-less
    inputs (see the module docstring)."""
    from disq_spark.schemas import READS_SCHEMA, VARIANTS_SCHEMA
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.bam_source import build_bai, build_sbi
    from disq_spark.sources.variants import build_tbi

    src = {k: os.path.join(work, k) for k in ("src.bam", "empty.bam", "src.vcf.bgz", "empty.vcf.bgz", "src.vcf.gz", "runs.vcf.bgz")}
    # larger inputs than the sink cases', so the small splits cut them
    # into several chunks: 3,000 reads on chrA/chrB then 9 unplaced ones,
    # 4,000 sites with incompressible INFO over v1/v2
    rng = random.Random(11)
    given = [r.asDict() for r in reads.collect()]
    rows = [
        dict(rng.choice(given[:-9]), name=f"b{i:05d}", contig="chrA" if i < 2000 else "chrB",
             start=(i % 2000) * 10 + 1, end=(i % 2000) * 10 + 60)
        for i in range(3000)
    ] + given[-9:]
    write_bam(_frame(spark, rows, READS_SCHEMA), header, src["src.bam"], write_sbi=False, write_bai=False)
    empty_reads = spark.createDataFrame([], READS_SCHEMA)
    write_bam(empty_reads, header, src["empty.bam"], write_sbi=False, write_bai=False)
    big_vcf = os.path.join(work, "big.vcf")
    with open(big_vcf, "w") as f:
        f.write("##fileformat=VCFv4.2\n##contig=<ID=v1,length=1000000>\n##contig=<ID=v2,length=1000000>\n")
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
        for i in range(4000):
            f.write(f"v{1 + i // 3000}\t{(i % 3000) * 10 + 1}\t.\tA\tC\t50\tPASS\tH={rng.getrandbits(128):032x}\n")
    from disq_spark.sources.variants import read_vcf

    big, big_header = read_vcf(spark, big_vcf)
    write_vcf(big, big_header, src["src.vcf.bgz"])
    empty_sites = spark.createDataFrame([], VARIANTS_SCHEMA)
    write_vcf(empty_sites, vheader, src["empty.vcf.bgz"])
    with open(src_vcf, "rb") as f, gzip.GzipFile(src["src.vcf.gz"], "wb", mtime=0) as g:
        g.write(f.read())
    runs_split = _two_run_vcf(src["runs.vcf.bgz"])

    def build(name, ext, fn, *args, **kw):
        def run(p):
            target = p + ext
            shutil.copyfile(src[name], target)
            fn(spark, target, *args, **kw)
        return run

    big = 1 << 30
    cases = {}
    for split in (32 * 1024, big):
        tag = "1g" if split == big else "32k"
        for g in (1, 4096):
            cases[f"build_sbi_{tag}_g{g}"] = build("src.bam", ".bam", build_sbi, split, granularity=g)
        cases[f"build_bai_{tag}"] = build("src.bam", ".bam", build_bai, split)
        cases[f"build_tbi_{tag}"] = build("src.vcf.bgz", ".vcf.bgz", build_tbi, split)
    cases.update({
        "bam_single_empty_sbi_bai": lambda p: write_bam(empty_reads, header, p + ".bam"),
        "build_sbi_empty_g4096": build("empty.bam", ".bam", build_sbi, big, granularity=4096),
        "build_bai_empty": build("empty.bam", ".bam", build_bai, big),
        "vcf_single_empty_tbi": lambda p: write_vcf(empty_sites, vheader, p + ".vcf.bgz", write_tbi=True),
        "build_tbi_empty": build("empty.vcf.bgz", ".vcf.bgz", build_tbi, big),
        "build_tbi_plain": lambda p: (shutil.copyfile(src_vcf, p + ".vcf"), build_tbi(spark, p + ".vcf")),
        "build_tbi_gzip": build("src.vcf.gz", ".vcf.gz", build_tbi, big),
        "build_tbi_unsorted_splits": build("runs.vcf.bgz", ".vcf.bgz", build_tbi, runs_split),
    })
    return cases


def main() -> None:
    repo, out = os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])
    sys.path.insert(0, repo)
    from disq_spark.formats.gzi import open_indexed_reference
    from disq_spark.headers import SamHeader
    from disq_spark.schemas import READS_SCHEMA, VARIANTS_SCHEMA
    from disq_spark.session import get_session
    from disq_spark.sinks.bam import write_bam
    from disq_spark.sinks.cram import write_cram
    from disq_spark.sinks.reads import write_sam
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.datasource import register_datasources
    from disq_spark.sources.fastq import FASTQ_SCHEMA, write_fastq
    from disq_spark.sources.variants import read_vcf

    ref_fa = os.path.join(repo, "fixtures", "ref.fa")
    spark = get_session("byte_probe", shuffle_partitions=4)
    register_datasources(spark)
    rng = random.Random(7)
    ref = open_indexed_reference(ref_fa)
    header = SamHeader(
        text="@HD\tVN:1.6\tSO:coordinate\n"
        + "".join(f"@SQ\tSN:{c}\tLN:{e.length}\n" for c, e in ref.fai.items())
    )
    reads = _frame(spark, _reads(ref, rng), READS_SCHEMA).cache()
    fastq = _frame(spark, [
        (f"q{i:04d}", None if i % 3 else f"lane={i % 4}",
         "".join(rng.choice("ACGTN") for _ in range(30 + i % 20)),
         "".join(rng.choice("#+5?AI") for _ in range(30 + i % 20)))
        for i in range(300)
    ], FASTQ_SCHEMA).cache()

    work = tempfile.mkdtemp(prefix="byte_probe_")
    src_vcf = os.path.join(work, "src.vcf")
    with open(src_vcf, "w") as f:
        f.write(_vcf_text(rng))
    vdf, vheader = read_vcf(spark, src_vcf)
    variants = _frame(spark, vdf.collect(), VARIANTS_SCHEMA).cache()

    def ds(df, fmt, path, **opts):
        w = df.write.format(fmt)
        for k, v in opts.items():
            w = w.option(k, v)
        w.mode("overwrite").save(path)

    cases = {
        "bam_single_noidx": lambda p: write_bam(reads, header, p + ".bam", write_sbi=False, write_bai=False),
        "bam_single_sbi": lambda p: write_bam(reads, header, p + ".bam", write_bai=False),
        "bam_single_sbi_bai": lambda p: write_bam(reads, header, p + ".bam"),
        "bam_sharded": lambda p: write_bam(reads, header, p, single_file=False),
        "bam_ds_sbi_bai": lambda p: ds(reads, "bam", p + ".bam", header_text=header.text),
        "bam_ds_noidx": lambda p: ds(
            reads, "bam", p + ".bam", header_text=header.text, write_sbi="false", write_bai="false"
        ),
        "vcf_single_plain": lambda p: write_vcf(variants, vheader, p + ".vcf"),
        "vcf_single_bgz": lambda p: write_vcf(variants, vheader, p + ".vcf.bgz"),
        "vcf_single_bgz_tbi": lambda p: write_vcf(variants, vheader, p + ".vcf.bgz", write_tbi=True),
        "vcf_sharded": lambda p: write_vcf(variants, vheader, p, single_file=False),
        "vcf_ds_plain": lambda p: ds(variants, "vcf", p + ".vcf", header_path=src_vcf),
        "vcf_ds_bgz_tbi": lambda p: ds(variants, "vcf", p + ".vcf.bgz", header_path=src_vcf, write_tbi="true"),
        "vcf_ds_header_text": lambda p: ds(variants, "vcf", p + ".vcf", header_text=vheader.text),
        "cram_single_crai": lambda p: write_cram(reads, header, p + ".cram", reference_path=ref_fa),
        "cram_single_nocrai": lambda p: write_cram(reads, header, p + ".cram", reference_path=ref_fa, write_crai=False),
        "cram_sharded": lambda p: write_cram(reads, header, p, reference_path=ref_fa, single_file=False),
        "sam_single": lambda p: write_sam(reads, header, p + ".sam"),
        "sam_sharded": lambda p: write_sam(reads, header, p, single_file=False),
        "fastq_single": lambda p: write_fastq(fastq, p + ".fastq"),
        "fastq_sharded": lambda p: write_fastq(fastq, p, single_file=False),
    }
    cases.update(_build_cases(spark, work, reads, variants, header, vheader, src_vcf))
    lines = []
    for name, run in cases.items():
        d = os.path.join(work, name)
        os.makedirs(d)
        try:
            run(os.path.join(d, "out"))
        except Exception as e:  # a refused input: record the refusal
            lines.append(f"{name}\t(raised)\terror:{type(e).__name__}")
        for root, _dirs, files in os.walk(d):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                lines.append(f"{name}\t{os.path.relpath(p, d)}\t{_hash(p)}")
    with open(out, "w") as f:
        f.write("\n".join(sorted(lines)) + "\n")
    print(f"{len(lines)} files hashed -> {out}")
    spark.stop()
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
