"""The workloads. Each builds its inputs from the seed, runs one kind of
timed operation (``op``) through the library's public API, checks every
result against oracles from the generated data, and replays its layers on
one core for the traced run.

An operation is a sequence of phases (``full``, ``query``, ``sort_write``
...), each a ``plan`` step (the ``read_*`` call, no Spark job) and a
``run`` step (the Spark action). Sizes and split sizes are the benchmark's
fixed settings; BENCHMARK.json and README.md record them.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

from disq_spark import Interval, read_bam, read_vcf, write_bam, write_vcf
from disq_spark.formats.sbi import read_sbi
from disq_spark.headers import SamHeader
from disq_spark.operators.genomics import coordinate_sort
from perfbench import gen, replay


def _intervals(regions):
    return [Interval(c, s, e) for c, s, e in regions]


def _median(xs):
    return statistics.median(xs) if xs else None


def _rate(n: int, walls: list[float]):
    return n / statistics.median(walls) if walls else None


def read(act, phase: str, reader, *args, **kw):
    """A ``read_*`` call timed as the phase's ``plan`` step. Traced runs
    also record, for interval reads, the partitions that survive pruning."""
    with act(phase, "plan") as part:
        df, header = reader(*args, **kw)
    if act.traced and kw.get("intervals") is not None:
        part["kept"] = df.rdd.getNumPartitions()
    return df, header


def phase_walls(ops, phase: str) -> list[float]:
    """Wall of every occurrence of ``phase`` (its plan + run steps)."""
    out = []
    for op in ops:
        occ: dict[int, float] = {}
        for p in op["parts"]:
            if p["phase"] == phase:
                occ[p["occ"]] = occ.get(p["occ"], 0.0) + p["s"]
        out.extend(occ.values())
    return out


def tail(xs: list[float]):
    """(percentile, value): the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None, None
    return round(100 * (len(xs) - 10) / len(xs), 1), xs[len(xs) - 11]


class Workload:
    name = ""
    cycle = 1  # operations of one balanced round; a run measures whole rounds
    # phase -> the source layer its read_* call plans with
    plan_layer: dict[str, str] = {}

    def build(self, root: str, seed: int) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, act) -> tuple[int, bool]:
        """One timed operation: (records returned or written, checks passed)."""
        raise NotImplementedError

    def verify(self, spark, act) -> list[bool]:
        """Untimed end-of-run checks."""
        return []

    def figures(self, ops) -> dict:
        """The per-workload figures named in README.md, for the run record."""
        return {}

    def replays(self) -> dict[str, float]:
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def output_bytes(self) -> int:
        return 0

    def bytes_per_record(self) -> float:
        raise NotImplementedError


class BamRead(Workload):
    """The read side of one coordinate-sorted BAM: a full parsed-tags read,
    a flags-only flagstat, and one small ``.bai``-pruned region query."""

    name = "bam_read"
    plan_layer = {"full": "bam_source", "flagstat": "bam_source", "query": "bam_source"}
    cycle = 3  # the query has 1, 2 and 3 regions in turn
    scan_split = 700 * 1024
    query_split = 80 * 1024
    n_queries = 60
    n_pairs = 10_000

    def build(self, root, seed):
        self.cols = gen.make_reads(seed, self.n_pairs)
        self.n_records = len(self.cols["flags"])
        self.path = os.path.join(root, "reads.bam")
        gen.write_bam_file(self.path, self.cols, "coordinate")
        self.flagstat = gen.flagstat(self.cols["flags"])
        self.oracle = gen.reads_checksum(self.cols)
        self.queries = gen.make_queries(seed, self.n_queries)
        self.expect = gen.region_counts(self.cols, self.queries)
        self.next = 0

    def warmup(self, spark):
        """One small .bai-pruned query: a few tasks through the decode path."""
        df, _ = read_bam(spark, self.path, split_size=self.query_split,
                         intervals=[Interval(gen.REFS[0][0], 1, 20_000)])
        df.count()

    def op(self, spark, act):
        df, _ = read(act, "full", read_bam, spark, self.path, split_size=self.scan_split)
        with act("full", "run"):
            n = df.count()
        ok = n == self.n_records
        df, _ = read(act, "flagstat", read_bam, spark, self.path, split_size=self.scan_split,
                     columns=["flags"])
        with act("flagstat", "run"):
            aggs = [F.count(F.lit(1)).alias("total")] + [
                F.sum((F.col("flags").bitwiseAND(bit) != 0).cast("long")).alias(k)
                for k, bit in gen.FLAGSTAT_BITS.items()
            ]
            ok &= df.agg(*aggs).collect()[0].asDict() == self.flagstat
        i = self.next % len(self.queries)
        self.next += 1
        df, _ = read(act, "query", read_bam, spark, self.path, split_size=self.query_split,
                     intervals=_intervals(self.queries[i]))
        with act("query", "run"):
            q = df.count()
        ok &= q == self.expect[i]
        return 2 * self.n_records + q, ok

    def verify(self, spark, act):
        with act("checksum", "run"):
            df, _ = read_bam(spark, self.path, split_size=self.scan_split)
            rows = df.mapInPandas(gen.checksum_partitions("reads"), "n long, h long").collect()
            return [gen.combine(rows) == self.oracle]

    def figures(self, ops):
        n = self.n_records
        queries = phase_walls(ops, "query")
        pct, val = tail(queries)
        return {"scan_rec_per_s": _rate(n, phase_walls(ops, "full")),
                "flagstat_rec_per_s": _rate(n, phase_walls(ops, "flagstat")),
                "region_query_p50_s": _median(queries),
                "region_query_tail_pct": pct, "region_query_tail_s": val}

    def replays(self):
        out = {**replay.reads_layers(self.path, self.scan_split),
               **replay.bai_layers(self.path, self.queries)}
        # pruning is measured on the query reads, so count chunks at their split
        out["bam_source.chunks"] = len(replay.bam_plan(self.path, self.query_split)[1])
        return out

    def input_bytes(self):
        return os.path.getsize(self.path)

    def bytes_per_record(self):
        return self.input_bytes() / self.n_records


class WriteRoundtrip(Workload):
    """The write side of both formats in one operation: an unsorted BAM
    through ``coordinate_sort`` to a single-file BAM with .sbi/.bai, then a
    ``.tbi`` region query and a read -> write round trip of a BGZF VCF."""

    name = "write_roundtrip"
    plan_layer = {"sort_write": "bam_source", "vcf_query": "variants", "vcf_write": "variants"}
    bam_pairs = 4_000
    bam_split = 300 * 1024
    sort_partitions = 4
    vcf_sites = 4_000
    vcf_split = 32 * 1024

    def build(self, root, seed):
        self.cols = gen.shuffled(gen.make_reads(seed, self.bam_pairs), seed)
        self.n_reads = len(self.cols["flags"])
        self.bam = os.path.join(root, "unsorted.bam")
        gen.write_bam_file(self.bam, self.cols, "unsorted")
        self.bam_oracle = gen.reads_checksum(self.cols)
        self.frame = gen.make_variants(seed, self.vcf_sites)
        self.n_sites = len(self.frame)
        self.vcf = os.path.join(root, "calls.vcf.bgz")
        gen.write_vcf_file(self.vcf, self.frame)
        self.vcf_oracle = gen.variants_checksum(self.frame)
        self.queries = gen.make_queries(seed, 60)
        self.bam_expect = gen.region_counts(self.cols, self.queries[:1])[0]
        vcols = {c: self.frame[c].tolist() for c in ("contig", "start", "end")}
        self.vcf_expect = gen.region_counts(vcols, self.queries)
        self.next = 0
        self.out_dir = os.path.join(root, "out")
        os.makedirs(self.out_dir)
        self.bam_out: list[str] = []
        self.vcf_out: list[str] = []

    def warmup(self, spark):
        """One small .tbi-pruned query."""
        df, _ = read_vcf(spark, self.vcf, split_size=self.vcf_split,
                         intervals=_intervals(self.queries[-1]))
        df.count()

    def op(self, spark, act):
        k = len(self.bam_out)
        out = os.path.join(self.out_dir, f"sorted{k}.bam")
        df, h = read(act, "sort_write", read_bam, spark, self.bam, split_size=self.bam_split)
        header = SamHeader(text=h.text.replace("SO:unsorted", "SO:coordinate"))
        with act("sort_write", "run"):
            write_bam(coordinate_sort(df, header, self.sort_partitions), header, out)
        self.bam_out.append(out)
        ok = read_sbi(out + ".sbi").total_records == self.n_reads and os.path.exists(out + ".bai")

        i = self.next % len(self.queries)
        self.next += 1
        df, _ = read(act, "vcf_query", read_vcf, spark, self.vcf, split_size=self.vcf_split,
                     intervals=_intervals(self.queries[i]))
        with act("vcf_query", "run"):
            n = df.count()
        ok &= n == self.vcf_expect[i]

        vout = os.path.join(self.out_dir, f"calls{k}.vcf.bgz")
        df, vh = read(act, "vcf_write", read_vcf, spark, self.vcf, split_size=self.vcf_split)
        with act("vcf_write", "run"):
            write_vcf(df, vh, vout, write_tbi=True)
        self.vcf_out.append(vout)
        # the same input and plan write the same bytes every time
        ok &= os.path.getsize(vout) == os.path.getsize(self.vcf_out[0]) and os.path.exists(vout + ".tbi")
        return self.n_reads + n + self.n_sites, ok

    def verify(self, spark, act):
        """Re-read the last outputs: content checksums, and a .bai-pruned query
        of the BAM (each operation already checks a .tbi-pruned VCF query)."""
        bam, vcf = self.bam_out[-1], self.vcf_out[-1]
        q = _intervals(self.queries[0])
        with act("bam_reread", "run"):
            df, _ = read_bam(spark, bam, split_size=self.bam_split)
            rows = df.mapInPandas(gen.checksum_partitions("reads"), "n long, h long").collect()
            checks = [gen.combine(rows) == self.bam_oracle]
            df, _ = read_bam(spark, bam, split_size=self.bam_split, intervals=q)
            checks.append(df.count() == self.bam_expect)
        with act("vcf_reread", "run"):
            df, _ = read_vcf(spark, vcf, split_size=self.vcf_split)
            rows = df.mapInPandas(gen.checksum_partitions("variants"), "n long, h long").collect()
            checks.append(gen.combine(rows) == self.vcf_oracle)
        return checks

    def figures(self, ops):
        return {
            "sort_write_rec_per_s": _rate(self.n_reads, phase_walls(ops, "sort_write")),
            "bam_bytes_per_record": os.path.getsize(self.bam_out[-1]) / self.n_reads,
            "vcf_region_query_p50_s": _median(phase_walls(ops, "vcf_query")),
            "vcf_write_rec_per_s": _rate(self.n_sites, phase_walls(ops, "vcf_write")),
        }

    def replays(self):
        variants = replay.variants_layers(self.vcf, self.vcf_split)
        for k in ("bgzf.inflate_mb_per_s_core", "bgzf.deflate_mb_per_s_core"):
            del variants[k]  # the BAM replay gives the BGZF rates
        return {**replay.reads_layers(self.bam, self.bam_split), **variants,
                **replay.bai_layers(self.bam_out[-1], self.queries)}

    def input_bytes(self):
        return os.path.getsize(self.bam) + os.path.getsize(self.vcf)

    def output_bytes(self):
        return os.path.getsize(self.bam_out[-1]) + os.path.getsize(self.vcf_out[-1])

    def bytes_per_record(self):
        """Bytes written (BAM + VCF, indexes excluded) per record written."""
        return self.output_bytes() / (self.n_reads + self.n_sites)


WORKLOADS = {w.name: w for w in (BamRead, WriteRoundtrip)}
