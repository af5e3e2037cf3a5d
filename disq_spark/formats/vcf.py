"""VCF text codec: data line <-> variants-schema row.

Replaces the reference's per-partition ``VCFCodec.decode``
(VcfSource.java:133-149) and ``HeaderlessVcfOutputFormat`` encode
(HeaderlessVcfOutputFormat.java:54-134) with pandas-batch functions: the
parse feeds the VCF scan's Arrow batches, the format runs under the
sinks' ``mapInPandas``.

Line layout: #CHROM POS ID REF ALT QUAL FILTER INFO [FORMAT samples...]
'.' encodes missing throughout. INFO flags are stored as key -> "".
END handling: gVCF blocks carry INFO END=<pos>; ``end`` uses it when
present (htsjdk VariantContext.getEnd semantics).
"""

from __future__ import annotations

import math

import pandas as pd

from disq_spark.schemas import VARIANTS_COLUMNS


def _parse_info(s: str) -> dict[str, str] | None:
    if s == "." or not s:
        return None
    out: dict[str, str] = {}
    for kv in s.split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            out[k] = v
        else:
            out[kv] = ""
    return out


def parse_vcf_lines(
    lines, samples: list[str], mode: str = "STRICT", with_genotypes: bool = True
) -> pd.DataFrame:
    """VCF data lines -> DataFrame with VARIANTS_COLUMNS.

    ``mode``: STRICT raises on malformed records, LENIENT warns + skips,
    SILENT skips (htsjdk ValidationStringency semantics, threaded like
    HtsjdkVariantsRddStorage's stringency option).

    ``with_genotypes=False`` skips sample-column parsing entirely — the
    genotype block is most of a cohort/gVCF line, and variant-level
    queries never touch it (column pruning into the parser; the column
    stays in the schema as NULL).
    """
    rows = []
    for line in lines:
        if not line or line.startswith("#"):
            continue
        try:
            f = line.rstrip("\n").split("\t")
            if len(f) < 8:
                raise ValueError(f"VCF record has {len(f)} fields, needs 8")
            contig, pos, vid, ref, alt, qual, filt, info = f[:8]
            start = int(pos)
            info_map = _parse_info(info)
            if info_map and "END" in info_map and info_map["END"]:
                end = int(info_map["END"])
            else:
                end = start + len(ref) - 1
            genotypes = None
            if with_genotypes and len(f) > 9 and samples:
                fmt_keys = f[8].split(":")
                genotypes = []
                for si, sample in enumerate(samples):
                    if 9 + si >= len(f):
                        break
                    vals = f[9 + si].split(":")
                    attrs = {k: (vals[i] if i < len(vals) else ".") for i, k in enumerate(fmt_keys)}
                    gt = attrs.get("GT")
                    genotypes.append({"sample": sample, "gt": gt, "attrs": attrs})
            row = (
                contig,
                start,
                end,
                None if vid == "." else vid.split(";"),
                ref,
                None if alt == "." else alt.split(","),
                None if qual == "." else float(qual),
                None if filt == "." else ([] if filt == "PASS" else filt.split(";")),
                info_map,
                genotypes,
            )
        except (ValueError, IndexError) as e:
            if mode == "STRICT":
                raise ValueError(f"malformed VCF record: {line[:200]!r}: {e}") from e
            if mode == "LENIENT":
                import sys

                print(f"WARN skipping malformed VCF record: {line[:120]!r}", file=sys.stderr)
            continue
        rows.append(row)
    return pd.DataFrame(rows, columns=VARIANTS_COLUMNS)


def format_vcf_line(row, samples: list[str]) -> str:
    """variants-schema row -> VCF text line (no newline)."""
    info = row["info"]
    if info is None:
        info_s = "."
    else:
        parts = [k if v == "" else f"{k}={v}" for k, v in info.items()]
        info_s = ";".join(parts) if parts else "."
    filters = row["filters"]
    if filters is None:
        filt_s = "."
    elif len(filters) == 0:
        filt_s = "PASS"
    else:
        filt_s = ";".join(filters)
    qual = row["qual"]
    # Arrow->pandas turns a null qual into float NaN, which is not None —
    # guard both spellings of "missing" or int(qual) below raises
    if qual is None or (isinstance(qual, float) and math.isnan(qual)):
        qual_s = "."
    else:
        # VCF convention: print integral quals without decimal point;
        # non-integral use Python's shortest round-trip repr (%g loses
        # digits past 6 significant figures, e.g. 16357.98 -> "16358")
        qual_s = str(qual) if qual != int(qual) else str(int(qual))
    fields = [
        row["contig"],
        str(int(row["start"])),
        ";".join(row["ids"]) if row["ids"] is not None and len(row["ids"]) else ".",
        row["ref"],
        ",".join(row["alts"]) if row["alts"] is not None and len(row["alts"]) else ".",
        qual_s,
        filt_s,
        info_s,
    ]
    gts = row["genotypes"]
    if gts is not None and len(gts) and samples:
        # FORMAT keys: union in first-genotype attr order (GT must be first)
        fmt_keys = list(gts[0]["attrs"].keys()) if gts[0]["attrs"] else ["GT"]
        if "GT" in fmt_keys:
            fmt_keys.remove("GT")
            fmt_keys.insert(0, "GT")
        fields.append(":".join(fmt_keys))
        by_sample = {g["sample"]: g for g in gts}
        for sample in samples:
            g = by_sample.get(sample)
            if g is None:
                fields.append("./.")
            else:
                attrs = g["attrs"] or {}
                fields.append(":".join(attrs.get(k, ".") for k in fmt_keys))
    return "\t".join(fields)


def format_vcf_batch(pdf: pd.DataFrame, samples: list[str]) -> pd.Series:
    """Vectorized variants-schema batch -> VCF text lines (no newline).

    contig/start are assembled column-level; the nested map/array
    columns (info, filters, ids, alts, genotypes) are inherently
    per-row but iterate raw numpy object arrays via zip instead of
    iterrows (no per-row Series construction — that was ~80% of the
    former cost). Semantics identical to ``format_vcf_line``."""
    n = len(pdf)
    if n == 0:
        return pd.Series([], dtype="object")
    start_s = (
        pd.to_numeric(pdf["start"]).astype("int64").astype(str).to_numpy(dtype=object)
    )
    cols = [
        pdf[c].to_numpy()
        for c in ("contig", "ids", "ref", "alts", "qual", "filters", "info", "genotypes")
    ]
    lines: list[str] = []
    for i, (contig, ids, ref, alts, qual, filters, info, gts) in enumerate(zip(*cols)):
        if info is None:
            info_s = "."
        else:
            items = info.items() if hasattr(info, "items") else info
            parts = [k if v == "" else f"{k}={v}" for k, v in items]
            info_s = ";".join(parts) if parts else "."
        if filters is None:
            filt_s = "."
        elif len(filters) == 0:
            filt_s = "PASS"
        else:
            filt_s = ";".join(filters)
        # Arrow->pandas turns a null qual into float NaN — guard both
        # spellings of "missing" (same rule as format_vcf_line)
        if qual is None or (isinstance(qual, float) and math.isnan(qual)):
            qual_s = "."
        else:
            qual_s = str(qual) if qual != int(qual) else str(int(qual))
        fields = [
            contig,
            start_s[i],
            ";".join(ids) if ids is not None and len(ids) else ".",
            ref,
            ",".join(alts) if alts is not None and len(alts) else ".",
            qual_s,
            filt_s,
            info_s,
        ]
        if gts is not None and len(gts) and samples:
            fmt_keys = list(gts[0]["attrs"].keys()) if gts[0]["attrs"] else ["GT"]
            if "GT" in fmt_keys:
                fmt_keys.remove("GT")
                fmt_keys.insert(0, "GT")
            fields.append(":".join(fmt_keys))
            by_sample = {g["sample"]: g for g in gts}
            for sample in samples:
                g = by_sample.get(sample)
                if g is None:
                    fields.append("./.")
                else:
                    attrs = g["attrs"] or {}
                    fields.append(":".join(attrs.get(k, ".") for k in fmt_keys))
        lines.append("\t".join(fields))
    return pd.Series(lines, dtype="object")
