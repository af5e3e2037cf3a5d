"""VCF text codec: data line <-> variants-schema row.

Replaces the reference's per-partition ``VCFCodec.decode``
(VcfSource.java:133-149) and ``HeaderlessVcfOutputFormat`` encode
(HeaderlessVcfOutputFormat.java:54-134) with batch functions, two of
them on the hot paths:

- ``parse_vcf_arrow`` (the VCF scan's decode): a split's lines to one
  ``pyarrow.RecordBatch``, column by column with ``pyarrow.compute``;
- ``format_vcf_arrow`` (the VCF sinks' part encoder): an Arrow batch to
  text lines, column by column.

Each hands the rows its column rules cannot reproduce exactly to the
per-row kernel it replaces — ``parse_vcf_lines`` (which also owns the
STRICT/LENIENT/SILENT handling of malformed lines) and
``format_vcf_batch`` over pandas rows — so no row and no output byte
depends on which path built it.

Line layout: #CHROM POS ID REF ALT QUAL FILTER INFO [FORMAT samples...]
'.' encodes missing throughout. INFO flags are stored as key -> "".
END handling: gVCF blocks carry INFO END=<pos>; ``end`` uses it when
present (htsjdk VariantContext.getEnd semantics).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from disq_spark.schemas import VARIANTS_COLUMNS, VARIANTS_SCHEMA


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


_POS = r"^[0-9]{1,18}$"
_QUAL = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]{1,2})?$"
_KV = r"^(?P<k>[^=]*)(?:=(?P<v>.*))?$"


def _take(values, idx: np.ndarray):
    return pc.take(values, pa.array(idx, pa.int64()))


def _offsets(counts: np.ndarray, null: np.ndarray | None = None):
    """Int32 list offsets for ``counts`` entries per slot, null where
    ``null`` (those slots hold no entry)."""
    offs = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    return pa.array(offs, pa.int32(), mask=None if null is None else np.append(null, False))


def _split(col, sep: str, null: np.ndarray, empty: np.ndarray | None = None):
    """``col`` split on ``sep``: null where ``null``, ``[]`` where ``empty``."""
    gone = null if empty is None else null | empty
    parts = pc.split_pattern(pc.if_else(pa.array(gone), pa.scalar(None, pa.string()), col), sep)
    if empty is None or not empty.any():
        return parts
    return pa.ListArray.from_arrays(_offsets(np.diff(parts.offsets.to_numpy()), null), parts.values)


def parse_vcf_arrow(lines, samples: list[str], mode: str = "STRICT", with_genotypes: bool = True):
    """VCF data lines -> variants-schema ``pyarrow.RecordBatch``, built
    column by column with ``pyarrow.compute``: each line split on tab,
    POS and QUAL cast, ids/alts/filters split, INFO as a map and the
    FORMAT x sample fields as ``list<struct<sample, gt, attrs>>``.

    A line the column rules cannot reproduce exactly — fewer than 8
    fields, a POS or QUAL (or INFO END) outside strict numeric patterns,
    a duplicate INFO or FORMAT key, a sample count other than the
    header's — goes through ``parse_vcf_lines`` and its row is merged
    back in file order, so ``mode`` (STRICT/LENIENT/SILENT) raises,
    warns and skips exactly as there. Rows equal ``parse_vcf_lines``'
    through ``to_batch``."""
    from disq_spark.sources.plan import arrow_schema, to_batch

    schema = arrow_schema(VARIANTS_SCHEMA)
    lines = [ln for ln in lines if ln and not ln.startswith("#")]
    n = len(lines)
    parts = pc.split_pattern(pa.array(lines, pa.string()), "\t", max_splits=8)
    poffs = parts.offsets.to_numpy()
    pieces = np.diff(poffs)
    cand = np.flatnonzero(pieces >= 8)  # rows the column rules try
    base = poffs[:-1][cand]
    m = len(cand)
    bad = np.zeros(m, dtype=bool)
    contig, pos, vid, ref, alt, qual, filt, info = (_take(parts.values, base + j) for j in range(8))

    bad |= ~_mask(pc.match_substring_regex(pos, _POS))
    start = pc.cast(pc.if_else(pa.array(bad), "0", pos), pa.int64()).to_numpy()
    dot = {c: _mask(pc.equal(a, ".")) for c, a in (("id", vid), ("alt", alt), ("qual", qual),
                                                 ("filt", filt), ("info", info))}
    ids = _split(vid, ";", dot["id"])
    alts = _split(alt, ",", dot["alt"])
    qbad = ~dot["qual"] & ~_mask(pc.match_substring_regex(qual, _QUAL))
    bad |= qbad
    quals = pc.cast(pc.if_else(pa.array(dot["qual"] | qbad), pa.scalar(None, pa.string()), qual), pa.float64())
    filters = _split(filt, ";", dot["filt"], _mask(pc.equal(filt, "PASS")))

    no_info = dot["info"] | _mask(pc.equal(info, ""))
    kvs = _split(info, ";", no_info)
    ioffs = kvs.offsets.to_numpy()
    kv = pc.extract_regex(kvs.values, _KV)
    keys, items = kv.field("k"), kv.field("v")
    iparent = np.repeat(np.arange(m), np.diff(ioffs))
    bad[_dup_rows(iparent, keys)] = True
    info_map = pa.MapArray.from_arrays(_offsets(np.diff(ioffs), no_info), keys, items)
    end = start + pc.utf8_length(ref).to_numpy().astype(np.int64) - 1
    at = np.flatnonzero(_mask(pc.equal(keys, "END")) & ~_mask(pc.equal(items, "")))
    end_s = _take(items, at)
    end_ok = _mask(pc.match_substring_regex(end_s, _POS))
    bad[iparent[at[~end_ok]]] = True
    end[iparent[at[end_ok]]] = pc.cast(end_s.filter(pa.array(end_ok)), pa.int64()).to_numpy()

    gtype = schema.field("genotypes").type
    if with_genotypes and samples:
        genotypes = _genotypes(parts.values, base, pieces[cand] == 9, samples, gtype, bad)
    else:
        genotypes = pa.nulls(m, gtype)

    batch = pa.RecordBatch.from_arrays(
        [a.cast(f.type) for a, f in zip(
            [contig, pa.array(start), pa.array(end), ids, ref, alts, quals, filters, info_map,
             genotypes], schema)],
        schema=schema,
    )
    irregular = np.ones(n, dtype=bool)
    irregular[cand[~bad]] = False
    if not irregular.any():
        return batch
    batch = batch.filter(pa.array(~bad))
    rows = np.flatnonzero(irregular)
    odd = [lines[i] for i in rows]
    pdf = parse_vcf_lines(odd, samples, mode, with_genotypes)
    if len(pdf) < len(odd):  # skipped lines: find the rows that stayed
        kept = [len(parse_vcf_lines([ln], samples, "SILENT", with_genotypes)) > 0 for ln in odd]
        rows = rows[np.array(kept, dtype=bool)]
    order = np.argsort(np.concatenate([cand[~bad], rows]), kind="stable")
    table = pa.Table.from_batches([batch, to_batch(pdf, schema)]).take(pa.array(order))
    return table.combine_chunks().to_batches()[0] if table.num_rows else batch.slice(0, 0)


def _genotypes(values, base: np.ndarray, has_rest: np.ndarray, samples: list[str], gtype, bad: np.ndarray):
    """The genotypes column of the candidate rows whose 9th piece (FORMAT
    plus sample columns) splits into exactly the header's sample count;
    a row with a different count or a duplicate FORMAT key is marked
    bad. Missing trailing sample values read as ".", extra ones are
    dropped, as ``parse_vcf_lines`` does."""
    m, n_s = len(base), len(samples)
    rest_idx = np.where(has_rest, base + 8, 0)
    rest = _take(values, rest_idx)
    g = pc.split_pattern(pc.if_else(pa.array(has_rest), rest, pa.scalar(None, pa.string())), "\t")
    goffs = g.offsets.to_numpy()
    glen = np.diff(goffs)
    has_gt = has_rest & (glen >= 2)  # FORMAT plus at least one sample column
    bad |= has_gt & (glen - 1 != n_s)
    rows = np.flatnonzero(has_gt & (glen - 1 == n_s))
    r = len(rows)
    fmt = _take(g.values, goffs[rows])
    cols = _take(g.values, (goffs[rows][:, None] + 1 + np.arange(n_s)).ravel())
    klist = pc.split_pattern(fmt, ":")
    koffs, kflat = klist.offsets.to_numpy(), klist.values
    k_r = np.diff(koffs)
    kparent = np.repeat(np.arange(r), k_r)
    bad[rows[_dup_rows(kparent, kflat)]] = True
    vlist = pc.split_pattern(cols, ":")
    voffs, vflat = vlist.offsets.to_numpy(), vlist.values
    v_g = np.diff(voffs)
    per_g = np.repeat(k_r, n_s)  # attrs entries of each genotype
    aoffs = np.concatenate([[0], np.cumsum(per_g)])
    g_of = np.repeat(np.arange(r * n_s), per_g)
    j = np.arange(len(g_of)) - aoffs[g_of]
    akeys = _take(kflat, koffs[g_of // n_s] + j)
    have = j < v_g[g_of]
    aitems = pc.fill_null(
        pc.take(vflat, pa.array(np.where(have, voffs[g_of] + j, 0), mask=~have)), "."
    )
    gt_at = np.full(r, -1, dtype=np.int64)
    is_gt = np.flatnonzero(_mask(pc.equal(kflat, "GT")))
    gt_at[kparent[is_gt]] = is_gt - koffs[kparent[is_gt]]
    gpos = np.repeat(gt_at, n_s)
    gt_have = (gpos >= 0) & (gpos < v_g)
    gt = pc.take(vflat, pa.array(np.where(gt_have, voffs[:-1] + gpos, 0), mask=~gt_have))
    gt = pc.if_else(pa.array((gpos >= 0) & ~gt_have), ".", gt)
    struct = gtype.value_type
    entries = pa.StructArray.from_arrays(
        [pa.array(samples * r, pa.string()), gt,
         pa.MapArray.from_arrays(pa.array(aoffs, pa.int32()), akeys, aitems)],
        fields=list(struct),
    )
    counts = np.zeros(m, dtype=np.int64)
    counts[rows] = n_s
    none = np.ones(m, dtype=bool)
    none[rows] = False
    return pa.ListArray.from_arrays(_offsets(counts, none), entries)


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


# non-integral quals in [1e-4, 1e9) print the same through Arrow's cast
# (shortest round-trip digits, fixed notation) as through Python's str;
# integral ones go through int64 below 2**53
_QUAL_FRAC = (1e-4, 1e9)


def _mask(arr) -> np.ndarray:
    """An Arrow boolean array as numpy, null as False."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _parents(offsets: np.ndarray) -> np.ndarray:
    """The row of each child entry ``offsets[0] <= j < offsets[-1]``."""
    return np.repeat(np.arange(len(offsets) - 1), np.diff(offsets))


def _dup_rows(parent: np.ndarray, keys) -> np.ndarray:
    """The distinct ``parent`` values holding one key twice."""
    if len(parent) == 0:
        return parent
    t = pa.table({"p": parent, "k": keys}).group_by(["p", "k"]).aggregate([([], "count_all")])
    return t["p"].to_numpy()[t["count_all"].to_numpy() > 1]


def _joined_lists(col, sep: str, irregular: np.ndarray):
    """``sep``-joined elements of a list column (null for a null list);
    a valid list holding a null element marks its row irregular, since
    ``str.join`` raises on it."""
    j = pc.binary_join(col, sep)
    irregular |= _mask(pc.and_(pc.is_null(j), pc.is_valid(col)))
    return j


def _entries(col, offsets: np.ndarray, values):
    """A list array of ``values`` at absolute child ``offsets``, null
    where ``col`` is."""
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, mask=pc.is_null(col) if col.null_count else None
    )


def format_vcf_arrow(batch, samples: list[str]) -> list[str]:
    """Variants-schema Arrow batch -> VCF text lines (no newline), built
    column by column with ``pyarrow.compute``: list joins for ids, alts
    and filters, map keys and items for INFO, and genotypes when a row's
    samples are the header's, in order, and share one attrs-key list
    with GT first. A row the column rules cannot reproduce exactly (a
    null where a string belongs, a qual outside ``_QUAL_FRAC`` that is
    not an int64, duplicate map keys, irregular genotypes) is formatted
    by ``format_vcf_batch``, so every line equals ``format_vcf_line``."""
    n = batch.num_rows
    if n == 0:
        return []
    col = batch.column
    irregular = np.zeros(n, dtype=bool)
    for c in ("contig", "start", "ref"):
        irregular |= _mask(pc.is_null(col(c)))

    def listed(name, sep, empty):
        c = col(name)
        j = _joined_lists(c, sep, irregular)
        return pc.if_else(pc.is_null(c), ".", pc.if_else(pc.equal(pc.list_value_length(c), 0), empty, j))

    ids_s, alts_s = listed("ids", ";", "."), listed("alts", ",", ".")
    filt_s = listed("filters", ";", "PASS")

    q = col("qual")
    qn = q.to_numpy(zero_copy_only=False).astype(np.float64)
    with np.errstate(invalid="ignore"):
        missing = np.isnan(qn)  # null, or NaN: both print "."
        finite = np.isfinite(qn)
        whole = finite & (qn == np.trunc(qn)) & (np.abs(qn) < 2.0**53)
        frac = finite & ~whole & (np.abs(qn) >= _QUAL_FRAC[0]) & (np.abs(qn) < _QUAL_FRAC[1])
    irregular |= ~(missing | whole | frac)
    qual_s = pc.if_else(
        pa.array(whole),
        pc.cast(pa.array(np.where(whole, qn, 0).astype(np.int64)), pa.string()),
        pc.if_else(pa.array(missing), ".", pc.cast(q, pa.string())),
    )

    info = col("info")
    offs = info.offsets.to_numpy()
    lo, hi = int(offs[0]), int(offs[-1])
    keys, items = info.keys.slice(lo, hi - lo), info.items.slice(lo, hi - lo)
    irregular[_dup_rows(_parents(offs), keys)] = True
    kv = pc.if_else(pc.equal(items, ""), keys, pc.binary_join_element_wise(keys, items, "="))
    info_j = _joined_lists(_entries(info, offs - lo, kv), ";", irregular)
    info_s = pc.if_else(pa.array(_mask(pc.is_null(info)) | (np.diff(offs) == 0)), ".", info_j)

    fields = [col("contig"), pc.cast(col("start"), pa.string()), ids_s, col("ref"), alts_s,
              qual_s, filt_s, info_s]
    if samples:
        fields.append(_genotype_fields(col("genotypes"), samples, irregular))
    lines = pc.binary_join_element_wise(*fields, "\t", null_handling="skip")
    lines = lines.to_numpy(zero_copy_only=False).tolist()
    bad = np.flatnonzero(irregular)
    if len(bad):
        for i, line in zip(bad, format_vcf_batch(pd.DataFrame(
            _python_rows(batch.take(pa.array(bad))), columns=VARIANTS_COLUMNS), samples)):
            lines[i] = line
    return lines


def _genotype_fields(g, samples: list[str], irregular: np.ndarray):
    """FORMAT + sample columns per row (null for a row without
    genotypes), for rows whose genotypes are ``samples`` in order, each
    with a non-empty attrs map holding the first one's keys, GT first
    when present; any other row with genotypes is marked irregular."""
    n_s = len(samples)
    glen = pc.list_value_length(g)
    has = _mask(pc.greater(glen, 0))
    irregular |= has & (glen.to_numpy(zero_copy_only=False) != n_s)
    goffs = g.offsets.to_numpy()
    lo, hi = int(goffs[0]), int(goffs[-1])
    entries = g.values.slice(lo, hi - lo)
    parent = _parents(goffs)
    pos = np.arange(hi - lo) - (goffs[parent] - lo)
    sample, _gt, attrs = entries.flatten()
    slot = pc.fill_null(pc.index_in(sample, value_set=pa.array(samples)), -1).to_numpy()
    bad_entry = _mask(pc.is_null(entries)) | (slot != pos)
    aoffs = attrs.offsets.to_numpy()
    alen = np.diff(aoffs)
    bad_entry |= _mask(pc.is_null(attrs)) | (alen == 0)
    a_lo, a_hi = int(aoffs[0]), int(aoffs[-1])
    akeys = attrs.keys.slice(a_lo, a_hi - a_lo)
    kpar = _parents(aoffs)
    bad_entry[_dup_rows(kpar, akeys)] = True
    kpos = np.arange(a_hi - a_lo) - (aoffs[kpar] - a_lo)
    bad_entry[kpar[_mask(pc.equal(akeys, "GT")) & (kpos > 0)]] = True
    k_s = _joined_lists(_entries(attrs, aoffs - a_lo, akeys), ":", bad_entry)
    v_s = _joined_lists(_entries(attrs, aoffs - a_lo, attrs.items.slice(a_lo, a_hi - a_lo)), ":", bad_entry)
    # every entry's keys equal its row's first entry's keys
    first = np.minimum(goffs[:-1] - lo, max(hi - lo - 1, 0))
    if hi > lo:
        row_k = pc.take(k_s, pa.array(first))
        bad_entry |= ~_mask(pc.equal(k_s, pc.take(row_k, pa.array(parent))))
        bad_entry |= alen != alen[first][parent]
        irregular[np.unique(parent[bad_entry])] = True
    else:
        row_k = pa.nulls(len(has), pa.string())
    sample_s = pc.binary_join(_entries(g, goffs - lo, v_s), "\t")
    return pc.if_else(
        pa.array(has), pc.binary_join_element_wise(row_k, sample_s, "\t"), pa.scalar(None, pa.string())
    )


def _python_rows(batch) -> list[dict]:
    """Rows of an Arrow variants batch as the sinks' pandas converter
    gives them: maps as dicts (last value of a duplicate key)."""
    rows = batch.to_pylist()
    for r in rows:
        if r["info"] is not None:
            r["info"] = dict(r["info"])
        for gt in r["genotypes"] or ():
            if gt is not None and gt["attrs"] is not None:
                gt["attrs"] = dict(gt["attrs"])
    return rows
