"""What the BGZF readers return, dumped for a parent/change comparison.

    python plans/pr11/parity_probe.py REPO OUT.pkl
    python plans/pr11/parity_probe.py --compare A.pkl B.pkl

Imports ``disq_spark`` and ``perfbench/gen.py`` from REPO (no Spark
session) and writes, in a temporary directory: the ``bam_read`` BAM
(``make_reads(1, 10_000)``) with and without its ``.sbi``, a
queryname-grouped BAM (``make_reads(2, 2_000)``) with and without its
``.sbi``, a header-only BAM, a BAM whose header spans two blocks, the
4,000-site BGZF VCF (``make_variants(1, 4000)``), and cuts of the
index-less BAM and of the VCF at and inside blocks. It records:

- ``read_bam_header`` of each BAM;
- ``plan_bam_chunks`` at five split sizes (``.sbi`` and guesser plans),
  ``adjust_chunks_for_queryname_groups`` on the queryname BAM;
- per chunk, the virtual offsets of the records ``walk_records`` finds
  and a hash of ``decode_chunk_cols``;
- per VCF split (eight split sizes, 1 B to 1 GiB), the owned lines and
  each line's ``build_tbi`` virtual offsets — through
  ``_range_lines``/``_range_records_voff`` where the checkout has them,
  else through ``_owned_span``/``_line_offsets``;
- record counts of the cut BAMs and lines of the cut VCFs.

``--compare`` prints how many entries differ and the first ones.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import sys
import tempfile


def _inputs(work, gen, bgzf, bamcodec):
    cols = gen.make_reads(1, 10_000)
    gen.write_bam_file(os.path.join(work, "reads.bam"), cols, "coordinate")
    shutil.copy(os.path.join(work, "reads.bam"), os.path.join(work, "reads_bare.bam"))
    q = gen.make_reads(2, 2_000)
    order = sorted(range(len(q["name"])), key=lambda i: q["name"][i])
    gen.write_bam_file(os.path.join(work, "qname.bam"), {k: [v[i] for i in order] for k, v in q.items()},
                       "queryname")
    shutil.copy(os.path.join(work, "qname.bam"), os.path.join(work, "qname_bare.bam"))
    text = gen.sam_header("coordinate").text
    with open(os.path.join(work, "empty.bam"), "wb") as f:
        f.write(bgzf.compress_all(bamcodec.encode_bam_header(text, gen.REFS)))
    big = text + "".join("@CO\t%s\n" % ("x" * 200) for _ in range(1200))
    idx = {n: i for i, (n, _l) in enumerate(gen.REFS)}
    small = gen.make_reads(5, 300)
    rows = [dict(zip(small, vals)) for vals in zip(*small.values())]
    with open(os.path.join(work, "bighdr.bam"), "wb") as f:
        f.write(bgzf.compress_all(bamcodec.encode_bam_header(big, gen.REFS)
                                  + b"".join(bamcodec.encode_record(r, idx) for r in rows)))
    gen.write_vcf_file(os.path.join(work, "sites.vcf.bgz"), gen.make_variants(1, 4000))


def _cuts(path, bgzf):
    with open(path, "rb") as f:
        data = f.read()
    blocks = list(bgzf.scan_blocks(path))
    at = [len(data) // 2 + 137, len(data) // 3, blocks[3].pos, blocks[3].pos + 40, blocks[-2].end,
          blocks[-1].pos + 10, blocks[1].pos + 300]
    out = []
    for cut in at:
        p = f"{path}.cut{cut}" + (".bam" if path.endswith(".bam") else ".vcf.bgz")
        with open(p, "wb") as f:
            f.write(data[:cut])
        out.append(p)
    return out


def dump(repo: str, out: str) -> None:
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    sys.path.insert(0, repo)
    import gen
    from disq_spark.formats import bam as bamcodec
    from disq_spark.formats import bgzf
    from disq_spark.sources import bam_source as bs
    from disq_spark.sources import variants as vs

    work = tempfile.mkdtemp(prefix="parity_probe_")
    _inputs(work, gen, bgzf, bamcodec)
    res: dict = {}

    def name(p):
        return os.path.basename(p)

    def walk(p, refs, v0, v1):
        walked = bs.walk_records(p, v0, v1)
        if walked is None:
            return None
        buf, offs = walked
        cols = bs.decode_chunk_cols(p, refs, v0, v1)
        return buf.virtual_offsets(offs), hashlib.sha256(repr(cols).encode()).hexdigest()

    def owned(p, s, e):
        if hasattr(vs, "_owned_span"):
            from disq_spark.sources.plan import split_lines

            r, a, b = vs._owned_span(p, s, e)
            return split_lines(r.data[a:b]), list(vs._line_offsets(r, a, b))
        return vs._range_lines(p, s, e), list(vs._range_records_voff(p, s, e))

    for f in ("empty.bam", "bighdr.bam"):
        h, refs, v = bs.read_bam_header(os.path.join(work, f))
        res[("header", f)] = (h.text, refs, v)
    for f in ("reads.bam", "reads_bare.bam", "bighdr.bam"):
        p = os.path.join(work, f)
        h, refs, v = bs.read_bam_header(p)
        res[("header", f)] = (h.text, refs, v)
        for split in (5_000, 20_000, 80 * 1024, 300 * 1024, 700 * 1024, 1 << 30):
            chunks = bs.plan_bam_chunks(p, split, refs, v)
            res[("plan", f, split)] = chunks
            for c in chunks:
                res[("walk", f, split, c)] = walk(p, refs, *c)
    for f in ("qname.bam", "qname_bare.bam"):
        p = os.path.join(work, f)
        _h, refs, v = bs.read_bam_header(p)
        for split in (20_000, 80 * 1024):
            res[("qname", f, split)] = bs.adjust_chunks_for_queryname_groups(
                p, bs.plan_bam_chunks(p, split, refs, v))
    vcf = os.path.join(work, "sites.vcf.bgz")
    size = os.path.getsize(vcf)
    for split in (1, 7, 100, 1000, 4096, 30_000, 65536, 1 << 30):
        starts = list(range(0, size, split))[:3000]
        res[("vcf", split)] = [owned(vcf, s, min(s + split, size)) for s in starts]
    for p in _cuts(os.path.join(work, "reads_bare.bam"), bgzf):
        try:
            _h, refs, v = bs.read_bam_header(p)
            for split in (100_000, 1 << 30):
                chunks = bs.plan_bam_chunks(p, split, refs, v)
                res[("cut", name(p), split)] = (chunks, [walk(p, refs, *c) for c in chunks])
        except Exception as e:  # noqa: BLE001 - the exception is the result
            res[("cut", name(p))] = repr(e)
    for p in _cuts(vcf, bgzf)[:3]:
        size = os.path.getsize(p)
        for split in (5_000, 1 << 30):
            got = []
            for s in range(0, size, split):
                try:
                    got.append(owned(p, s, min(s + split, size)))
                except Exception as e:  # noqa: BLE001
                    got.append(repr(e))
            res[("cut", name(p), split)] = got
    with open(out, "wb") as f:
        pickle.dump(res, f)
    print(f"{len(res)} entries -> {out}")
    shutil.rmtree(work)


def compare(a: str, b: str) -> None:
    with open(a, "rb") as f:
        x = pickle.load(f)
    with open(b, "rb") as f:
        y = pickle.load(f)
    keys = sorted(set(x) | set(y), key=repr)
    bad = [k for k in keys if x.get(k, "<missing>") != y.get(k, "<missing>")]
    print(f"{len(keys)} entries, {len(bad)} differ")
    for k in bad[:10]:
        print("DIFF", k, repr(x.get(k))[:300], "|", repr(y.get(k))[:300])


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        dump(sys.argv[1], sys.argv[2])
