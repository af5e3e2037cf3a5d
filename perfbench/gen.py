"""Seeded genomics inputs and the oracles taken from them.

Every value is drawn from a numpy ``Generator`` seeded from ``--seed``, so
the same seed always writes the same records. Oracles (record counts,
flagstat counts, content checksums, per-region overlap counts) come from
the generated columns, never from reading a file back.

Files are written with the library's own single-file sink pieces
(``sinks.bam.encode_part`` + ``finalize_single``, ``sinks.variants.
encode_vcf_part`` + ``finalize_single``) on the driver, which also builds
the ``.sbi``/``.bai``/``.tbi`` indexes exactly as a ``write_*`` call would.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

from disq_spark.headers import SamHeader, VcfHeader
from disq_spark.schemas import READS_COLUMNS, VARIANTS_COLUMNS

REFS = [("chr1", 2_400_000), ("chr2", 1_800_000), ("chr3", 1_200_000)]
READ_LEN = 100
# cigar -> reference span; every cigar consumes READ_LEN query bases
CIGARS = {"100M": 100, "5S95M": 95, "95M5S": 95, "50M2D50M": 102, "60M1I39M": 99, "30M100N70M": 200}
CIGAR_P = [0.80, 0.05, 0.05, 0.04, 0.04, 0.02]
SBI_GRANULARITY = 64
SAMPLES = [f"S{i}" for i in range(1, 7)]
_MOD = (1 << 61) - 1

FLAGSTAT_BITS = {
    "paired": 0x1,
    "proper": 0x2,
    "unmapped": 0x4,
    "mate_unmapped": 0x8,
    "reverse": 0x10,
    "first": 0x40,
    "second": 0x80,
    "qcfail": 0x200,
    "duplicate": 0x400,
}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


# ---------------------------------------------------------------- reads


def make_reads(seed: int, n_pairs: int) -> dict[str, list]:
    """Paired 100-bp reads as READS_COLUMNS lists, coordinate-sorted.

    About 2% of pairs have an unmapped mate placed at its partner's
    position; a trailing tail of unplaced-unmapped pairs (1% of pairs)
    sorts last. Values equal what the BAM decoder yields."""
    rng = _rng(seed, 1)
    lens = np.array([l for _n, l in REFS], dtype=np.int64)
    ctg = rng.choice(len(REFS), size=n_pairs, p=lens / lens.sum())
    pos1 = (rng.random(n_pairs) * (lens[ctg] - 1000)).astype(np.int64)  # 0-based
    insert = rng.integers(200, 600, n_pairs)
    pos2 = pos1 + insert - READ_LEN
    mate_unmapped = rng.random(n_pairs) < 0.02
    pos2 = np.where(mate_unmapped, pos1, pos2)
    dup = rng.random(n_pairs) < 0.03
    qcfail = rng.random(n_pairs) < 0.005
    cig1 = rng.choice(len(CIGARS), size=n_pairs, p=CIGAR_P)
    cig2 = rng.choice(len(CIGARS), size=n_pairs, p=CIGAR_P)
    mapq = rng.integers(0, 61, (n_pairs, 2))
    nm = rng.integers(0, 6, (n_pairs, 2))
    rg = rng.integers(0, 3, n_pairs)
    n_tail = max(n_pairs // 100, 1)

    # placed reads: 2 per pair, then sort by (contig, pos, pair, mate)
    pair = np.repeat(np.arange(n_pairs), 2)
    mate = np.tile([0, 1], n_pairs)
    pos = np.where(mate == 0, pos1[pair], pos2[pair])
    order = np.lexsort((mate, pair, pos, ctg[pair]))
    pair, mate, pos = pair[order], mate[order], pos[order]
    cig_names = list(CIGARS)

    n = 2 * n_pairs + 2 * n_tail
    seq_codes = rng.integers(0, 4, (n, READ_LEN), dtype=np.uint8)
    seq_buf = np.frombuffer(b"ACGT", dtype=np.uint8)[seq_codes].tobytes()
    qual_buf = (rng.integers(2, 41, (n, READ_LEN), dtype=np.uint8) + 33).tobytes()

    cols: dict[str, list] = {c: [] for c in READS_COLUMNS}
    for i, (p, m, ps) in enumerate(zip(pair.tolist(), mate.tolist(), pos.tolist())):
        contig = REFS[ctg[p]][0]
        unmapped = m == 1 and bool(mate_unmapped[p])
        other_unmapped = m == 0 and bool(mate_unmapped[p])
        flags = 0x1 | (0x40 if m == 0 else 0x80)
        if unmapped:
            flags |= 0x4
        if other_unmapped:
            flags |= 0x8
        if not (unmapped or other_unmapped):
            flags |= 0x2
            flags |= 0x20 if m == 0 else 0x10
        if dup[p]:
            flags |= 0x400
        if qcfail[p]:
            flags |= 0x200
        other = int(pos2[p] if m == 0 else pos1[p])
        if unmapped:
            cigar, end, mq, tags = None, ps + 1, 0, {"RG": f"Z:rg{rg[p]}"}
        else:
            cigar = cig_names[(cig1 if m == 0 else cig2)[p]]
            end = ps + CIGARS[cigar]
            mq = int(mapq[p, m])
            tags = {"NM": f"i:{nm[p, m]}", "RG": f"Z:rg{rg[p]}"}
        if unmapped or other_unmapped:
            tlen = 0
        else:
            span = int(pos2[p]) + CIGARS[cig_names[cig2[p]]] - int(pos1[p])
            tlen = span if m == 0 else -span
        _append_read(
            cols, i, seq_buf, qual_buf, f"p{p:07d}", flags, contig, ps + 1, end, mq,
            cigar, contig, other + 1, tlen, tags,
        )
    for t in range(2 * n_tail):
        flags = 0x1 | 0x4 | 0x8 | (0x40 if t % 2 == 0 else 0x80)
        _append_read(
            cols, 2 * n_pairs + t, seq_buf, qual_buf, f"u{t // 2:07d}", flags, None, None,
            None, 0, None, None, None, 0, {"RG": "Z:rg0"},
        )
    return cols


def _append_read(cols, i, seq_buf, qual_buf, name, flags, contig, start, end, mapq,
                 cigar, mate_contig, mate_start, tlen, tags):
    s = i * READ_LEN
    cols["name"].append(name)
    cols["flags"].append(flags)
    cols["contig"].append(contig)
    cols["start"].append(start)
    cols["end"].append(end)
    cols["mapq"].append(mapq)
    cols["cigar"].append(cigar)
    cols["mate_contig"].append(mate_contig)
    cols["mate_start"].append(mate_start)
    cols["template_len"].append(tlen)
    cols["seq"].append(seq_buf[s : s + READ_LEN].decode("ascii"))
    cols["qual"].append(qual_buf[s : s + READ_LEN].decode("ascii"))
    cols["tags"].append(tags)
    cols["read_group"].append(tags["RG"][2:])


def shuffled(cols: dict[str, list], seed: int) -> dict[str, list]:
    """The same records in a seeded random order (an unsorted input)."""
    perm = _rng(seed, 2).permutation(len(cols["flags"])).tolist()
    return {c: [v[i] for i in perm] for c, v in cols.items()}


def sam_header(sort_order: str) -> SamHeader:
    lines = [f"@HD\tVN:1.6\tSO:{sort_order}"]
    lines += [f"@SQ\tSN:{n}\tLN:{l}" for n, l in REFS]
    lines += [f"@RG\tID:rg{i}\tSM:s{i}" for i in range(3)]
    return SamHeader(text="\n".join(lines) + "\n")


def write_bam_file(path: str, cols: dict[str, list], sort_order: str) -> None:
    """One BAM plus ``.sbi`` (and ``.bai`` when coordinate-sorted)."""
    from disq_spark.sinks import bam as bamsink

    header = sam_header(sort_order)
    parts_dir = path + ".parts"
    os.makedirs(parts_dir, exist_ok=True)
    part = os.path.join(parts_dir, "part-00000")
    with_bai = sort_order == "coordinate"
    ref_index = {n: i for i, (n, _l) in enumerate(REFS)}
    rows = ({c: cols[c][i] for c in READS_COLUMNS} for i in range(len(cols["flags"])))
    bamsink.encode_part(rows, part, ref_index, SBI_GRANULARITY, with_bai)
    bamsink.finalize_single(path, parts_dir, header, REFS, [part], True, with_bai)


def flagstat(flags) -> dict[str, int]:
    f = np.asarray(flags, dtype=np.int64)
    out = {"total": int(f.size)}
    for k, bit in FLAGSTAT_BITS.items():
        out[k] = int(((f & bit) != 0).sum())
    return out


def region_counts(cols: dict[str, list], queries) -> list[int]:
    """Per query, the records overlapping any of its regions (1-based
    closed; NULL start/end never overlap) — ``read_bam(intervals=...)`` /
    ``read_vcf(intervals=...)`` semantics."""
    contig = np.array([c if c is not None else "" for c in cols["contig"]], dtype=object)
    start = np.array([s if s is not None else -1 for s in cols["start"]], dtype=np.int64)
    end = np.array([e if e is not None else -2 for e in cols["end"]], dtype=np.int64)
    by_contig = {c: np.flatnonzero(contig == c) for c in set(contig.tolist())}
    out = []
    for regions in queries:
        hit = set()
        for c, s, e in regions:
            idx = by_contig.get(c, np.empty(0, dtype=np.int64))
            m = (start[idx] <= e) & (end[idx] >= s) & (start[idx] >= 0)
            hit.update(idx[m].tolist())
        out.append(len(hit))
    return out


def make_queries(seed: int, n: int) -> list[list[tuple[str, int, int]]]:
    """``n`` small region queries of 1-3 regions each, 1-50 kb wide.

    Region counts and widths cycle through a fixed ladder so every seed
    asks for the same mix of work; only the positions are seeded."""
    rng = _rng(seed, 3)
    widths = [1_000, 5_000, 10_000, 25_000, 50_000]
    out, k = [], 0
    for q in range(n):
        regions = []
        for _r in range(q % 3 + 1):
            ci = int(rng.integers(0, len(REFS)))
            w = widths[k % len(widths)]
            k += 1
            s = int(rng.integers(1, REFS[ci][1] - w))
            regions.append((REFS[ci][0], s, s + w - 1))
        out.append(regions)
    return out


# ------------------------------------------------------------- variants


def make_variants(seed: int, n_sites: int) -> pd.DataFrame:
    """VARIANTS_COLUMNS frame: multi-allelic sites, '.' values, 6 samples."""
    rng = _rng(seed, 4)
    lens = np.array([l for _n, l in REFS], dtype=np.int64)
    per = np.floor(n_sites * lens / lens.sum()).astype(np.int64)
    per[0] += n_sites - per.sum()
    bases = "ACGT"
    rows = []
    for ci, (contig, length) in enumerate(REFS):
        k = int(per[ci])
        pos = np.sort(rng.choice(length - 10, size=k, replace=False) + 1)
        n_alt = rng.choice([0, 1, 2, 3], size=k, p=[0.03, 0.77, 0.15, 0.05])
        ref_len = rng.choice([1, 2, 3], size=k, p=[0.85, 0.1, 0.05])
        seqs = rng.integers(0, 4, (k, 8))
        qual = rng.integers(0, 999, k)
        qmiss = rng.random(k) < 0.1
        filt = rng.choice(3, size=k, p=[0.8, 0.1, 0.1])
        has_id = rng.random(k) < 0.3
        dp = rng.integers(5, 300, k)
        info_kind = rng.choice(3, size=k, p=[0.85, 0.1, 0.05])
        gt_codes = rng.integers(0, 6, (k, len(SAMPLES)))
        gdp = rng.integers(0, 60, (k, len(SAMPLES)))
        gdp_miss = rng.random((k, len(SAMPLES))) < 0.1
        for j in range(k):
            s = seqs[j]
            ref = "".join(bases[b] for b in s[: ref_len[j]])
            alts = None
            if n_alt[j]:
                alts = [bases[(s[0] + a + 1) % 4] + ("T" * a) for a in range(n_alt[j])]
            n_all = 1 + int(n_alt[j])
            info = None
            if info_kind[j] == 0:
                info = {"DP": str(int(dp[j])), "AF": f"{(int(dp[j]) % 97) / 100:.2f}"}
            elif info_kind[j] == 1:
                info = {"DP": str(int(dp[j])), "DB": ""}
            gts = []
            for si, sample in enumerate(SAMPLES):
                code = int(gt_codes[j, si])
                a, b = code % n_all, (code // 2) % n_all
                gt = "./." if code == 5 else (f"{a}|{b}" if code == 4 else f"{a}/{b}")
                d = "." if gdp_miss[j, si] else str(int(gdp[j, si]))
                gts.append({"sample": sample, "gt": gt, "attrs": {"GT": gt, "DP": d}})
            rows.append((
                contig,
                int(pos[j]),
                int(pos[j]) + int(ref_len[j]) - 1,
                [f"rs{ci}{int(pos[j])}"] if has_id[j] else None,
                ref,
                alts,
                None if qmiss[j] else float(qual[j]) / 10.0,
                [[], ["q10"], None][filt[j]],
                info,
                gts,
            ))
    return pd.DataFrame(rows, columns=VARIANTS_COLUMNS)


def vcf_header() -> VcfHeader:
    lines = ["##fileformat=VCFv4.2"]
    lines += [f"##contig=<ID={n},length={l}>" for n, l in REFS]
    lines += [
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP member">',
        '##FILTER=<ID=q10,Description="Quality below 10">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"] + SAMPLES),
    ]
    return VcfHeader.from_lines(lines)


def write_vcf_file(path: str, frame: pd.DataFrame) -> None:
    """One BGZF VCF plus ``.tbi``."""
    from disq_spark.sinks import variants as vsink

    header = vcf_header()
    parts_dir = path + ".parts"
    os.makedirs(parts_dir, exist_ok=True)
    part = os.path.join(parts_dir, "part-00000")
    batches = (frame.iloc[i : i + 4096] for i in range(0, len(frame), 4096))
    vsink.encode_vcf_part(batches, part, header.samples, True, True)
    vsink.finalize_single(path, parts_dir, header, [part], True, True)


# ------------------------------------------------------------- checksums


def _none(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def _items(m):
    if m is None:
        return None
    return tuple(sorted((m.items() if hasattr(m, "items") else m)))


def _seq(a):
    return None if a is None else tuple(a)


def _digest(t: tuple) -> int:
    return int.from_bytes(hashlib.blake2b(repr(t).encode(), digest_size=8).digest(), "little")


def reads_checksum(cols) -> tuple[int, int]:
    """(records, order-independent content checksum) over READS_COLUMNS.

    Accepts generated lists or a decoded pandas batch (where nullable
    longs arrive as floats with NaN)."""
    total = 0
    cs = [cols[c] for c in READS_COLUMNS]
    n = 0
    for name, flags, contig, start, end, mapq, cigar, mc, ms, tlen, seq, qual, tags, rg in zip(*cs):
        start, end, ms = _none(start), _none(end), _none(ms)
        t = (
            name, int(flags), contig,
            None if start is None else int(start),
            None if end is None else int(end),
            int(mapq), cigar, mc,
            None if ms is None else int(ms),
            int(tlen), seq, qual, _items(tags), rg,
        )
        total = (total + _digest(t)) % _MOD
        n += 1
    return n, total


def variants_checksum(frame) -> tuple[int, int]:
    """(records, order-independent content checksum) over VARIANTS_COLUMNS."""
    total = 0
    n = 0
    cs = [frame[c] for c in VARIANTS_COLUMNS]
    for contig, start, end, ids, ref, alts, qual, filters, info, gts in zip(*cs):
        qual = _none(qual)
        g = None
        if gts is not None:
            g = tuple((x["sample"], x["gt"], _items(x["attrs"])) for x in gts)
        t = (
            contig, int(start), int(end), _seq(ids), ref, _seq(alts),
            None if qual is None else float(qual), _seq(filters), _items(info), g,
        )
        total = (total + _digest(t)) % _MOD
        n += 1
    return n, total


def checksum_partitions(kind: str):
    """mapInPandas function yielding one (n, h) row per input batch."""
    fn = reads_checksum if kind == "reads" else variants_checksum

    def run(batches):
        for pdf in batches:
            n, h = fn(pdf)
            yield pd.DataFrame({"n": [n], "h": [h]})

    return run


def combine(rows) -> tuple[int, int]:
    return sum(r.n for r in rows), sum(r.h for r in rows) % _MOD
