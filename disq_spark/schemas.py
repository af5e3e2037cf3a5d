"""Catalyst schemas for genomics records (SURVEY.md §1.2).

Reads (SAM/BAM/CRAM) and variants (VCF) as flat, Catalyst-native
StructTypes — the DataFrame replacement for the reference's
``JavaRDD<SAMRecord>`` / ``JavaRDD<VariantContext>``
(HtsjdkReadsRdd.java:41-63, HtsjdkVariantsRdd.java:41-62). Kryo
registration (DisqKryoRegistrator.java) is obviated: Tungsten encodes
these natively.

Coordinate convention: 1-based closed intervals, matching SAM/VCF text
and htsjdk ``getStart()``/``getEnd()`` — so interval-query parity with
the reference (BoundedTraversalUtil.java:61-77) needs no offset
juggling. Unplaced records carry NULL contig/start/end.
"""

from __future__ import annotations

from pyspark.sql import types as T

# SAM flag bits (SAM spec §1.4; used by the derived-predicate helpers in
# functions/flags.py)
FLAG_PAIRED = 0x1
FLAG_PROPER_PAIR = 0x2
FLAG_UNMAPPED = 0x4
FLAG_MATE_UNMAPPED = 0x8
FLAG_REVERSE = 0x10
FLAG_MATE_REVERSE = 0x20
FLAG_FIRST_OF_PAIR = 0x40
FLAG_SECOND_OF_PAIR = 0x80
FLAG_SECONDARY = 0x100
FLAG_FAIL_QC = 0x200
FLAG_DUPLICATE = 0x400
FLAG_SUPPLEMENTARY = 0x800

READS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("flags", T.IntegerType(), False),
        T.StructField("contig", T.StringType(), True),
        T.StructField("start", T.LongType(), True),  # 1-based inclusive
        T.StructField("end", T.LongType(), True),  # 1-based inclusive
        T.StructField("mapq", T.IntegerType(), True),
        T.StructField("cigar", T.StringType(), True),
        T.StructField("mate_contig", T.StringType(), True),
        T.StructField("mate_start", T.LongType(), True),
        T.StructField("template_len", T.IntegerType(), True),
        T.StructField("seq", T.StringType(), True),
        T.StructField("qual", T.StringType(), True),
        # tag -> "<type>:<value>" (e.g. NM -> "i:1"), lossless round-trip
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("read_group", T.StringType(), True),
    ]
)

#: ``read_bam(tags="raw")`` variant: aux tags ride as the undecoded BAM
#: byte span (one slice per record at scan time — the 100 TB path).
#: ``functions.flags.parse_tags`` converts back to the map form on
#: demand; the BAM sink copies raw tags verbatim (bit-exact round-trip).
READS_SCHEMA_RAW_TAGS = T.StructType(
    [
        f if f.name != "tags" else T.StructField("tags", T.BinaryType(), True)
        for f in READS_SCHEMA.fields
    ]
)

GENOTYPE_SCHEMA = T.StructType(
    [
        T.StructField("sample", T.StringType(), False),
        T.StructField("gt", T.StringType(), True),
        # FORMAT key -> raw string value ("." kept verbatim); typed access
        # via functions/variants helpers (element_at + cast)
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

VARIANTS_SCHEMA = T.StructType(
    [
        T.StructField("contig", T.StringType(), False),
        T.StructField("start", T.LongType(), False),  # POS, 1-based
        T.StructField("end", T.LongType(), False),  # start + len(ref) - 1, or INFO END
        T.StructField("ids", T.ArrayType(T.StringType()), True),
        T.StructField("ref", T.StringType(), False),
        T.StructField("alts", T.ArrayType(T.StringType()), True),
        T.StructField("qual", T.DoubleType(), True),
        # None = '.', [] = PASS, else failing filter names
        T.StructField("filters", T.ArrayType(T.StringType()), True),
        T.StructField("info", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("genotypes", T.ArrayType(GENOTYPE_SCHEMA), True),
    ]
)

# Column orders of the decoded column mappings and the sinks' pandas batches
READS_COLUMNS = [f.name for f in READS_SCHEMA.fields]
VARIANTS_COLUMNS = [f.name for f in VARIANTS_SCHEMA.fields]
