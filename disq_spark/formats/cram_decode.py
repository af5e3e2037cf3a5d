"""CRAM record decoder, pure Python (no htsjdk/pysam).

Decodes CRAM 2.1/3.0 containers written with the common codec set —
EXTERNAL(1), HUFFMAN(3), BYTE_ARRAY_LEN(4), BYTE_ARRAY_STOP(5), BETA(6),
GAMMA(9) — with raw/gzip/bzip2/lzma/rANS-4x8 block compression (rANS
order-0 and order-1 decode via formats/rans.py); htsjdk's default v2.1
output (the reference's CRAM test fixtures) decodes fully.

Containers are self-contained (each carries its own compression header),
which is what makes the reference's container-aligned splits work
(CramSource.java:82-144) — and what our per-partition decode
relies on: a partition decodes exactly the containers whose start offset
lies in its byte range.

Reference-based sequence reconstruction follows the spec: per-slice
reference span + substitution matrix + read features (X/I/D/S/N/H/P...),
with the reference supplied by an indexed FASTA
(CramReferenceSourceBuilder.java:44-69 analog).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

from disq_spark import fs
from disq_spark.formats.cram import (
    CramContainer,
    parse_container_header,
    parse_file_definition,
    read_itf8,
    read_ltf8,
)

# block compression methods
RAW, GZIP, BZIP2, LZMA, RANS = 0, 1, 2, 3, 4
# block content types
FILE_HEADER, COMPRESSION_HEADER, SLICE_HEADER, EXTERNAL, CORE = 0, 1, 2, 4, 5

BASES = "ACGTN"
CIGAR_FROM_FEATURE = {
    b"X"[0]: "X",
    b"I"[0]: "I",
    b"D"[0]: "D",
    b"S"[0]: "S",
    b"N"[0]: "N",
    b"H"[0]: "H",
    b"P"[0]: "P",
    b"i"[0]: "I",
}


@dataclass
class Block:
    method: int
    ctype: int
    cid: int
    data: bytes
    end: int


def read_block(data: bytes, off: int, major: int) -> Block:
    method, ctype = data[off], data[off + 1]
    p = off + 2
    cid, p = read_itf8(data, p)
    csize, p = read_itf8(data, p)
    usize, p = read_itf8(data, p)
    raw = data[p : p + csize]
    end = p + csize + (4 if major >= 3 else 0)  # v3 blocks end with crc32
    if method == RAW:
        payload = raw
    elif method == GZIP:
        payload = zlib.decompress(raw, 15 + 32)
    elif method == BZIP2:
        import bz2

        payload = bz2.decompress(raw)
    elif method == LZMA:
        import lzma

        payload = lzma.decompress(raw)
    elif method == RANS:
        from disq_spark.formats import rans

        payload = rans.uncompress(raw)
    else:
        raise NotImplementedError(
            f"CRAM block compression method {method} not supported "
            "by the pure-Python decoder"
        )
    if len(payload) != usize:
        raise ValueError(f"block inflate mismatch: {len(payload)} != {usize}")
    return Block(method, ctype, cid, payload, end)


# ---------------------------------------------------------------------------
# bit reader over the core block (MSB first)
# ---------------------------------------------------------------------------
class BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        byte = self.data[self.pos >> 3]
        bit = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


# ---------------------------------------------------------------------------
# encodings
# ---------------------------------------------------------------------------
@dataclass
class Encoding:
    codec: int
    params: bytes
    # huffman state
    _table: dict | None = None
    _max_len: int = 0

    def _build_huffman(self):
        p = self.params
        n, i = read_itf8(p, 0)
        symbols = []
        for _ in range(n):
            s, i = read_itf8(p, i)
            symbols.append(s)
        nl, i = read_itf8(p, i)
        lengths = []
        for _ in range(nl):
            ln, i = read_itf8(p, i)
            lengths.append(ln)
        # canonical codes: sort by (bit length, symbol value), assign
        # sequential codes, left-shifting at each length increase
        order = sorted(range(n), key=lambda j: (lengths[j], symbols[j]))
        table: dict[tuple[int, int], int] = {}
        code, prev_len = 0, 0
        for j in order:
            ln = lengths[j]
            code <<= ln - prev_len
            table[(ln, code)] = symbols[j]
            code += 1
            prev_len = ln
        self._table = table
        self._max_len = max(lengths) if lengths else 0
        self._single = symbols[0] if n == 1 else None

    def read_int(self, core: BitReader, ext: dict[int, "ByteCursor"]) -> int:
        c = self.codec
        if c == 3:  # HUFFMAN
            if self._table is None:
                self._build_huffman()
            if self._single is not None:
                return self._single
            code, ln = 0, 0
            while ln <= self._max_len:
                code = (code << 1) | core.read_bit()
                ln += 1
                v = self._table.get((ln, code))
                if v is not None:
                    return v
            raise ValueError("bad huffman code")
        if c == 1:  # EXTERNAL: ITF8 from the external block
            cid, _ = read_itf8(self.params, 0)
            return ext[cid].read_itf8()
        if c == 6:  # BETA: offset + n bits
            off, i = read_itf8(self.params, 0)
            nbits, i = read_itf8(self.params, i)
            return core.read_bits(nbits) - off
        if c == 9:  # GAMMA
            off, _ = read_itf8(self.params, 0)
            n = 0
            while core.read_bit() == 0:
                n += 1
            v = 1
            for _ in range(n):
                v = (v << 1) | core.read_bit()
            return v - off
        raise NotImplementedError(f"int codec {c}")

    def read_byte(self, core: BitReader, ext: dict[int, "ByteCursor"]) -> int:
        c = self.codec
        if c == 1:
            cid, _ = read_itf8(self.params, 0)
            return ext[cid].read_byte()
        if c == 3:
            return self.read_int(core, ext)
        raise NotImplementedError(f"byte codec {c}")

    def read_bytes(self, core: BitReader, ext: dict[int, "ByteCursor"]) -> bytes:
        c = self.codec
        if c == 5:  # BYTE_ARRAY_STOP: stop byte + external content id
            stop = self.params[0]
            cid, _ = read_itf8(self.params, 1)
            return ext[cid].read_until(stop)
        if c == 4:  # BYTE_ARRAY_LEN: nested (len encoding, value encoding)
            p = self.params
            lc, i = read_itf8(p, 0)
            lplen, i = read_itf8(p, i)
            len_enc = Encoding(lc, p[i : i + lplen])
            i += lplen
            vc, i = read_itf8(p, i)
            vplen, i = read_itf8(p, i)
            val_enc = Encoding(vc, p[i : i + vplen])
            n = len_enc.read_int(core, ext)
            if val_enc.codec == 1:
                cid, _ = read_itf8(val_enc.params, 0)
                return ext[cid].read_n(n)
            return bytes(val_enc.read_byte(core, ext) for _ in range(n))
        raise NotImplementedError(f"byte-array codec {c}")


class ByteCursor:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read_byte(self) -> int:
        b = self.data[self.pos]
        self.pos += 1
        return b

    def read_n(self, n: int) -> bytes:
        b = self.data[self.pos : self.pos + n]
        self.pos += n
        return b

    def read_until(self, stop: int) -> bytes:
        end = self.data.index(stop, self.pos)
        out = self.data[self.pos : end]
        self.pos = end + 1
        return out

    def read_itf8(self) -> int:
        v, self.pos = read_itf8(self.data, self.pos)
        return v


# ---------------------------------------------------------------------------
# compression header
# ---------------------------------------------------------------------------
@dataclass
class CompressionHeader:
    ap_delta: bool = True
    rn_included: bool = True
    sm: bytes = b""
    tag_lines: list[list[tuple[str, str]]] = field(default_factory=list)
    ds: dict[str, Encoding] = field(default_factory=dict)
    tags: dict[tuple[str, str], Encoding] = field(default_factory=dict)


def parse_compression_header(payload: bytes) -> CompressionHeader:
    ch = CompressionHeader()
    p = 0
    _size, p = read_itf8(payload, p)
    n, p = read_itf8(payload, p)
    for _ in range(n):
        key = payload[p : p + 2].decode("ascii")
        p += 2
        if key in ("RN", "AP", "RR"):
            val = payload[p]
            p += 1
            if key == "AP":
                ch.ap_delta = bool(val)
            elif key == "RN":
                ch.rn_included = bool(val)
        elif key == "SM":
            ch.sm = payload[p : p + 5]
            p += 5
        elif key == "TD":
            ln, p = read_itf8(payload, p)
            blob = payload[p : p + ln]
            p += ln
            for line in blob.split(b"\x00")[:-1] if blob.endswith(b"\x00") else blob.split(b"\x00"):
                tags = []
                for j in range(0, len(line), 3):
                    tags.append((line[j : j + 2].decode("ascii"), chr(line[j + 2])))
                ch.tag_lines.append(tags)
        else:
            raise ValueError(f"unknown preservation key {key}")
    _size, p = read_itf8(payload, p)
    n, p = read_itf8(payload, p)
    for _ in range(n):
        key = payload[p : p + 2].decode("ascii")
        p += 2
        codec, p = read_itf8(payload, p)
        plen, p = read_itf8(payload, p)
        ch.ds[key] = Encoding(codec, payload[p : p + plen])
        p += plen
    _size, p = read_itf8(payload, p)
    n, p = read_itf8(payload, p)
    for _ in range(n):
        key, p = read_itf8(payload, p)
        codec, p = read_itf8(payload, p)
        plen, p = read_itf8(payload, p)
        tag = chr((key >> 16) & 0xFF) + chr((key >> 8) & 0xFF)
        typ = chr(key & 0xFF)
        ch.tags[(tag, typ)] = Encoding(codec, payload[p : p + plen])
        p += plen
    return ch


# ---------------------------------------------------------------------------
# slice header
# ---------------------------------------------------------------------------
@dataclass
class SliceHeader:
    ref_id: int
    start: int
    span: int
    n_records: int
    n_blocks: int
    content_ids: list[int]
    embedded_ref_id: int


def parse_slice_header(payload: bytes, major: int) -> SliceHeader:
    p = 0
    ref_id, p = read_itf8(payload, p)
    start, p = read_itf8(payload, p)
    span, p = read_itf8(payload, p)
    n_records, p = read_itf8(payload, p)
    if major >= 3:
        _counter, p = read_ltf8(payload, p)
    else:
        _counter, p = read_itf8(payload, p)
    n_blocks, p = read_itf8(payload, p)
    n_ids, p = read_itf8(payload, p)
    ids = []
    for _ in range(n_ids):
        v, p = read_itf8(payload, p)
        ids.append(v)
    emb, p = read_itf8(payload, p)
    return SliceHeader(ref_id, start, span, n_records, n_blocks, ids, emb)


# ---------------------------------------------------------------------------
# record decode
# ---------------------------------------------------------------------------
_MATE_UNMAPPED_MF = 0x1  # mate unmapped in MF
_MATE_NEG_STRAND_MF = 0x2

# CF (CRAM record flags)
_QS_STORED = 0x1
_DETACHED = 0x2
_HAS_MATE_DOWNSTREAM = 0x4
_DECODE_SEQ_AS_STAR = 0x8


def _substituted_base(sm: bytes, ref_base: str, code: int) -> str:
    ri = BASES.index(ref_base if ref_base in BASES else "N")
    subs = [b for b in BASES if b != BASES[ri]]  # 4 candidates, alphabetical
    byte = sm[ri]
    for j, cand in enumerate(subs):
        if (byte >> (6 - 2 * j)) & 3 == code:
            return cand
    return "N"


def decode_slice(
    ch: CompressionHeader,
    sl: SliceHeader,
    core: BitReader,
    ext: dict[int, ByteCursor],
    refs: list[tuple[str, int]],
    get_ref: "callable",
    major: int,
):
    """Yield dict records for one slice."""
    ds = ch.ds
    prev_pos = sl.start
    records = []
    for _ in range(sl.n_records):
        rec: dict = {}
        bf = ds["BF"].read_int(core, ext)
        cf = ds["CF"].read_int(core, ext)
        if sl.ref_id == -2:
            ref_id = ds["RI"].read_int(core, ext)
        else:
            ref_id = sl.ref_id
        rl = ds["RL"].read_int(core, ext)
        ap = ds["AP"].read_int(core, ext)
        if ch.ap_delta:
            pos = prev_pos + ap
            prev_pos = pos
        else:
            pos = ap
        rg = ds["RG"].read_int(core, ext) if "RG" in ds else -1
        name = None
        if ch.rn_included and "RN" in ds:
            name = ds["RN"].read_bytes(core, ext).decode("ascii")
        mate_ref_id = mate_pos = None
        tlen = 0
        nf = None
        if cf & _DETACHED:
            mf = ds["MF"].read_int(core, ext)
            if not ch.rn_included and "RN" in ds:
                name = ds["RN"].read_bytes(core, ext).decode("ascii")
            mate_ref_id = ds["NS"].read_int(core, ext)
            mate_pos = ds["NP"].read_int(core, ext)
            tlen = ds["TS"].read_int(core, ext)
            if mf & _MATE_UNMAPPED_MF:
                bf |= 0x8  # mate unmapped
            if mf & _MATE_NEG_STRAND_MF:
                bf |= 0x20  # mate reverse
        elif cf & _HAS_MATE_DOWNSTREAM:
            nf = ds["NF"].read_int(core, ext)
        # tags
        tl = ds["TL"].read_int(core, ext)
        tags: dict[str, str] = {}
        for tag, typ in ch.tag_lines[tl] if tl < len(ch.tag_lines) else []:
            enc = ch.tags[(tag, typ)]
            raw = enc.read_bytes(core, ext)
            tags[tag] = _format_tag(typ, raw)
        features = []
        mapq = 0
        if bf & 0x4 == 0:  # mapped
            fn = ds["FN"].read_int(core, ext)
            fpos = 0
            for _ in range(fn):
                code = ds["FC"].read_byte(core, ext)
                fdelta = ds["FP"].read_int(core, ext)
                fpos += fdelta
                if code == ord("X"):
                    features.append((fpos, "X", ds["BS"].read_byte(core, ext)))
                elif code == ord("I"):
                    features.append((fpos, "I", ds["IN"].read_bytes(core, ext)))
                elif code == ord("i"):
                    features.append((fpos, "i", bytes([ds["BA"].read_byte(core, ext)])))
                elif code == ord("D"):
                    features.append((fpos, "D", ds["DL"].read_int(core, ext)))
                elif code == ord("S"):
                    features.append((fpos, "S", ds["SC"].read_bytes(core, ext)))
                elif code == ord("N"):
                    features.append((fpos, "N", ds["RS"].read_int(core, ext)))
                elif code == ord("H"):
                    features.append((fpos, "H", ds["HC"].read_int(core, ext)))
                elif code == ord("P"):
                    features.append((fpos, "P", ds["PD"].read_int(core, ext)))
                elif code == ord("B"):
                    b = ds["BA"].read_byte(core, ext)
                    _q = ds["QS"].read_byte(core, ext)
                    features.append((fpos, "X?", b))  # base+qual pair
                elif code == ord("Q"):
                    _q = ds["QS"].read_byte(core, ext)
                else:
                    raise NotImplementedError(f"read feature {chr(code)}")
            mapq = ds["MQ"].read_int(core, ext)
        else:
            # unmapped: bases stored verbatim
            if cf & _DECODE_SEQ_AS_STAR:
                rec["seq_star"] = True
            else:
                bases = bytes(ds["BA"].read_byte(core, ext) for _ in range(rl))
                rec["bases"] = bases.decode("ascii")
        qual = None
        if cf & _QS_STORED:
            q = bytes(ds["QS"].read_byte(core, ext) for _ in range(rl))
            if not q or q[0] == 0xFF:
                qual = None
            else:
                qual = "".join(chr(c + 33) for c in q)
        rec.update(
            dict(
                bf=bf,
                cf=cf,
                ref_id=ref_id,
                rl=rl,
                pos=pos,
                rg=rg,
                name=name,
                mate_ref_id=mate_ref_id,
                mate_pos=mate_pos,
                tlen=tlen,
                nf=nf,
                tags=tags,
                features=features,
                mapq=mapq,
                qual=qual,
            )
        )
        records.append(rec)

    # resolve downstream mates (non-detached pairs within the slice)
    for i, rec in enumerate(records):
        if rec["nf"] is not None:
            j = i + rec["nf"] + 1
            if j < len(records):
                mate = records[j]
                rec["mate_ref_id"] = mate["ref_id"]
                rec["mate_pos"] = mate["pos"]
                mate["mate_ref_id"] = rec["ref_id"]
                mate["mate_pos"] = rec["pos"]
                if mate["bf"] & 0x10:
                    rec["bf"] |= 0x20
                if rec["bf"] & 0x10:
                    mate["bf"] |= 0x20
                # template length: leftmost start to rightmost end
                a = rec["pos"]
                b = mate["pos"] + mate["rl"] - 1
                rec["tlen"] = b - a + 1
                mate["tlen"] = -(b - a + 1)

    for rec in records:
        yield _to_row(rec, refs, get_ref, ch)


def _format_tag(typ: str, raw: bytes) -> str:
    import struct as _s

    if typ == "Z":
        # CRAM stores the SAM-record byte run including the trailing NUL
        return "Z:" + raw.rstrip(b"\x00").decode("ascii", "replace")
    if typ == "A":
        return "A:" + chr(raw[0])
    if typ in "cCsSiI":
        fmt = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}[typ]
        return f"i:{_s.unpack(fmt, raw[: _s.calcsize(fmt)])[0]}"
    if typ == "f":
        return f"f:{_s.unpack('<f', raw[:4])[0]:g}"
    if typ == "H":
        return "H:" + raw.rstrip(b"\x00").decode("ascii", "replace")
    if typ == "B":
        sub = chr(raw[0])
        n = _s.unpack("<i", raw[1:5])[0]
        fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
        vals = _s.unpack(f"<{n}{fmt}", raw[5 : 5 + n * _s.calcsize(fmt)])
        if sub == "f":
            return "B:" + sub + "," + ",".join(f"{v:g}" for v in vals)
        return "B:" + sub + "," + ",".join(str(v) for v in vals)
    raise NotImplementedError(f"tag type {typ}")


def _to_row(rec: dict, refs: list[tuple[str, int]], get_ref, ch: CompressionHeader):
    """Build (name, flags, contig, start, end, mapq, cigar, mate_contig,
    mate_start, template_len, seq, qual, tags, read_group) — READS_COLUMNS."""
    bf = rec["bf"]
    ref_id = rec["ref_id"]
    contig = refs[ref_id][0] if 0 <= ref_id < len(refs) else None
    pos = rec["pos"] if contig is not None else None
    rl = rec["rl"]
    seq = None
    cigar = None
    end = None
    if bf & 0x4 == 0 and contig is not None:
        seq_chars, cigar, ref_consumed = _reconstruct(
            rec["features"], rl, contig, pos, get_ref, ch.sm
        )
        seq = "".join(seq_chars)
        end = pos + ref_consumed - 1
    else:
        seq = rec.get("bases")
        if pos is not None:
            end = pos
    mate_ref = rec["mate_ref_id"]
    mate_contig = (
        refs[mate_ref][0] if mate_ref is not None and 0 <= mate_ref < len(refs) else None
    )
    mate_start = rec["mate_pos"] if mate_contig is not None and rec["mate_pos"] else None
    tags = rec["tags"] or None
    rg = None
    if tags and "RG" in tags:
        rg = tags["RG"].split(":", 1)[1]
    return (
        rec["name"],
        bf,
        contig,
        pos,
        end,
        rec["mapq"],
        cigar,
        mate_contig,
        mate_start,
        rec["tlen"],
        seq,
        rec["qual"],
        tags,
        rg,
    )


def _reconstruct(features, rl: int, contig: str, pos: int, get_ref, sm: bytes):
    """Apply read features to the reference -> (seq chars, cigar, ref len)."""
    seq: list[str] = []
    cig: list[tuple[int, str]] = []

    def add_cig(n: int, op: str):
        if n <= 0:
            return
        if cig and cig[-1][1] == op:
            cig[-1] = (cig[-1][0] + n, op)
        else:
            cig.append((n, op))

    read_i = 0  # 0-based position within the read
    ref_i = pos  # 1-based reference position
    for fpos, code, val in sorted(features, key=lambda f: f[0]):
        gap = (fpos - 1) - read_i  # matched bases before this feature
        if gap > 0:
            seq.extend(get_ref(contig, ref_i, ref_i + gap - 1))
            add_cig(gap, "M")
            read_i += gap
            ref_i += gap
        if code == "X" or code == "X?":
            ref_base = get_ref(contig, ref_i, ref_i)[0]
            seq.append(
                _substituted_base(sm, ref_base, val) if code == "X" else chr(val)
            )
            add_cig(1, "M")  # substitutions render as M (match-or-mismatch)
            read_i += 1
            ref_i += 1
        elif code in ("I", "i"):
            s = val.decode("ascii") if isinstance(val, (bytes, bytearray)) else val
            seq.extend(s)
            add_cig(len(s), "I")
            read_i += len(s)
        elif code == "S":
            s = val.decode("ascii") if isinstance(val, (bytes, bytearray)) else val
            seq.extend(s)
            add_cig(len(s), "S")
            read_i += len(s)
        elif code == "D":
            add_cig(val, "D")
            ref_i += val
        elif code == "N":
            add_cig(val, "N")
            ref_i += val
        elif code == "H":
            add_cig(val, "H")
        elif code == "P":
            add_cig(val, "P")
    tail = rl - read_i
    if tail > 0:
        seq.extend(get_ref(contig, ref_i, ref_i + tail - 1))
        add_cig(tail, "M")
        ref_i += tail
    cigar = "".join(f"{n}{op}" for n, op in cig)
    ref_consumed = sum(n for n, op in cig if op in "MDN=X")
    return seq, cigar, max(ref_consumed, 1)


# ---------------------------------------------------------------------------
# FASTA reference source
# ---------------------------------------------------------------------------
class FastaReference:
    """Indexed (or small unindexed) FASTA; upper-cased base access."""

    def __init__(self, path: str):
        self.seqs: dict[str, str] = {}
        import gzip as _gz

        opener = _gz.open if path.endswith(".gz") else open
        with opener(path, "rt") as f:
            name = None
            chunks: list[str] = []
            for line in f:
                if line.startswith(">"):
                    if name is not None:
                        self.seqs[name] = "".join(chunks).upper()
                    name = line[1:].split()[0].strip()
                    chunks = []
                else:
                    chunks.append(line.strip())
            if name is not None:
                self.seqs[name] = "".join(chunks).upper()

    def get(self, contig: str, start1: int, end1: int) -> str:
        s = self.seqs[contig]
        return s[start1 - 1 : end1]


# ---------------------------------------------------------------------------
# whole-file / byte-range decode
# ---------------------------------------------------------------------------
def decode_containers(
    data: bytes,
    containers: list[CramContainer],
    major: int,
    refs: list[tuple[str, int]],
    get_ref,
):
    """Yield READS_COLUMNS rows for the given containers."""
    for c in containers:
        if c.is_eof or c.n_records == 0:
            continue
        off = c.offset + c.header_len
        blk = read_block(data, off, major)
        if blk.ctype != COMPRESSION_HEADER:
            raise ValueError("expected compression header block")
        ch = parse_compression_header(blk.data)
        off = blk.end
        end = c.end
        while off < end:
            sh_blk = read_block(data, off, major)
            if sh_blk.ctype != SLICE_HEADER:
                off = sh_blk.end
                continue
            sl = parse_slice_header(sh_blk.data, major)
            off = sh_blk.end
            core = None
            ext: dict[int, ByteCursor] = {}
            for _ in range(sl.n_blocks):
                b = read_block(data, off, major)
                if b.ctype == CORE:
                    core = BitReader(b.data)
                else:
                    ext[b.cid] = ByteCursor(b.data)
                off = b.end
            eff_get_ref = get_ref
            if sl.embedded_ref_id >= 0 and sl.embedded_ref_id in ext:
                emb = ext[sl.embedded_ref_id].data.decode("ascii")
                ref_start = sl.start

                def eff_get_ref(contig, s1, e1, _emb=emb, _rs=ref_start):
                    return _emb[s1 - _rs : e1 - _rs + 1]

            yield from decode_slice(ch, sl, core or BitReader(b""), ext, refs, eff_get_ref, major)


def decode_cram_range(
    path: str,
    byte_start: int,
    byte_end: int,
    refs: list[tuple[str, int]],
    reference_path: str | None,
    missing_ref_as_n: bool = False,
):
    """Decode all containers starting in [byte_start, byte_end).

    ``missing_ref_as_n``: decode without a reference, substituting 'N'
    for reference-copied bases — structure (names, flags, positions,
    CIGARs, quals, tags) stays exact; sequences are placeholders. For
    pipelines that never touch ``seq`` this also skips the FASTA load.
    """
    from disq_spark.formats.cram import scan_containers

    with fs.open_input(path) as f:
        data = f.read()
    major, _minor, _off = parse_file_definition(data)
    if reference_path:
        from disq_spark.formats.gzi import open_reference

        ref = open_reference(reference_path)  # .gzi-indexed when available
    else:
        ref = None

    def get_ref(contig, s1, e1):
        if ref is None:
            if missing_ref_as_n:
                return "N" * (e1 - s1 + 1)
            raise ValueError("CRAM decode requires a reference FASTA (reference_path=)")
        return ref.get(contig, s1, e1)

    selected = [
        c
        for c in scan_containers(path)
        if byte_start <= c.offset < byte_end and not c.is_eof
    ]
    # skip the first container (SAM header, FILE_HEADER content) —
    # identified by its first block type
    out = []
    for c in selected:
        blk = read_block(data, c.offset + c.header_len, major)
        if blk.ctype == FILE_HEADER:
            continue
        out.extend(decode_containers(data, [c], major, refs, get_ref))
    return out


def read_cram_header(path: str) -> tuple[str, list[tuple[str, int]]]:
    """(SAM header text, [(ref name, length)]) from the first container."""
    with fs.open_input(path) as f:
        data = f.read(4 << 20)
    major, _minor, off = parse_file_definition(data)
    c = parse_container_header(data, off, major)
    blk = read_block(data, c.offset + c.header_len, major)
    payload = blk.data
    # FILE_HEADER payload: int32 text length + SAM header text
    import struct as _s

    ln = _s.unpack_from("<i", payload, 0)[0]
    text = payload[4 : 4 + ln].decode("utf-8", "replace").rstrip("\x00")
    refs = []
    for line in text.splitlines():
        if line.startswith("@SQ"):
            name, length = None, 0
            for fld in line.split("\t")[1:]:
                if fld.startswith("SN:"):
                    name = fld[3:]
                elif fld.startswith("LN:"):
                    length = int(fld[3:])
            if name:
                refs.append((name, length))
    return text, refs
