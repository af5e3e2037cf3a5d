"""HTML-to-text extraction as pure column expressions — the step
between crawl ingestion (sources/warc.py) and the text pipeline
(quality, lang-id, dedup). A trafilatura-class extractor needs a DOM;
this is the regex tier every large pipeline runs first (strip
script/style/comments, drop tags, decode entities, collapse
whitespace), kept in engine-portable regexes so a DuckDB oracle can run
the identical chain — and cheap enough to run at crawl scale (pure
JVM-side regexp_replace, no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# RE2- and Java-compatible: (?s) dotall, lazy quantifiers, no backrefs.
_DROP_BLOCKS = r"(?si)<(script|style)\b[^>]*>.*?</(script|style)>"
_DROP_COMMENTS = r"(?s)<!--.*?-->"
_DROP_TAGS = r"(?s)<[^>]*>"

# the high-frequency named entities; numeric forms are decoded by
# decode_numeric_entities (split + codepoint fold, below)
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST, so &amp;lt; decodes to &lt; not <
]


def strip_markup(col) -> Column:
    """Remove script/style blocks, comments, and tags (tag -> space so
    adjacent text nodes don't fuse)."""
    c = F.regexp_replace(col, _DROP_BLOCKS, " ")
    c = F.regexp_replace(c, _DROP_COMMENTS, " ")
    return F.regexp_replace(c, _DROP_TAGS, " ")


def codepoint_char(cp) -> Column:
    """Unicode code point (int column) -> its one-character string,
    JVM-side: Spark's chr() is ASCII-only (wraps mod 256), so the
    UTF-8 byte sequence is assembled with shift/mask arithmetic into a
    hex string and decoded. Invalid code points (surrogates, > U+10FFFF)
    map to U+FFFD like every browser's parser does."""
    cp = cp.cast("bigint")
    invalid = (cp > 0x10FFFF) | ((cp >= 0xD800) & (cp <= 0xDFFF)) | (cp <= 0)
    cp = F.when(invalid, F.lit(0xFFFD)).otherwise(cp)
    b = lambda x: F.lpad(F.hex(x), 2, "0")
    u1 = b(cp)
    u2 = F.concat(
        b(F.shiftright(cp, 6).bitwiseAND(F.lit(0x1F)) + F.lit(0xC0)),
        b(cp.bitwiseAND(F.lit(0x3F)) + F.lit(0x80)),
    )
    u3 = F.concat(
        b(F.shiftright(cp, 12).bitwiseAND(F.lit(0x0F)) + F.lit(0xE0)),
        b(F.shiftright(cp, 6).bitwiseAND(F.lit(0x3F)) + F.lit(0x80)),
        b(cp.bitwiseAND(F.lit(0x3F)) + F.lit(0x80)),
    )
    u4 = F.concat(
        b(F.shiftright(cp, 18).bitwiseAND(F.lit(0x07)) + F.lit(0xF0)),
        b(F.shiftright(cp, 12).bitwiseAND(F.lit(0x3F)) + F.lit(0x80)),
        b(F.shiftright(cp, 6).bitwiseAND(F.lit(0x3F)) + F.lit(0x80)),
        b(cp.bitwiseAND(F.lit(0x3F)) + F.lit(0x80)),
    )
    hexstr = (
        F.when(cp < 0x80, u1)
        .when(cp < 0x800, u2)
        .when(cp < 0x10000, u3)
        .otherwise(u4)
    )
    return F.decode(F.unhex(hexstr), "UTF-8")


def decode_numeric_entities(col) -> Column:
    """Decode ``&#233;`` / ``&#xE9;`` character references — real crawls
    are full of both forms. Pure column expressions: split on the
    ``&#`` introducer, then fold the tail pieces, turning each piece's
    leading ``\\d+;`` / ``[xX][0-9a-fA-F]+;`` into its code point's
    character (codepoint_char) and passing non-matching pieces through
    with the introducer restored."""
    parts = F.split(col, r"&#")
    head = F.element_at(parts, 1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def piece(p):
        dec = F.regexp_extract(p, r"^([0-9]{1,7});", 1)
        hx = F.regexp_extract(p, r"^[xX]([0-9a-fA-F]{1,6});", 1)
        return (
            F.when(
                dec != "",
                F.concat(
                    codepoint_char(dec.cast("bigint")),
                    F.regexp_replace(p, r"^[0-9]{1,7};", ""),
                ),
            )
            .when(
                hx != "",
                F.concat(
                    codepoint_char(F.conv(hx, 16, 10).cast("bigint")),
                    F.regexp_replace(p, r"^[xX][0-9a-fA-F]{1,6};", ""),
                ),
            )
            .otherwise(F.concat(F.lit("&#"), p))
        )

    return F.when(F.size(parts) <= 1, col).otherwise(
        F.concat(head, F.aggregate(tail, F.lit(""), lambda acc, p: F.concat(acc, piece(p))))
    )


# Private-use sentinel for numeric-escaped ampersands: '&#38;lt;' means
# the literal text '&lt;' — the decoded '&' must survive BOTH the named
# pass and the amp-last pass without re-combining into an entity. Real
# U+E000 in crawl text (private use area) is vanishingly rare; a page
# using it trades one character for correct entity semantics.
_AMP_SENTINEL = "\ue000"
_AMP_NUMERIC_DEC = r"&#0*38;"
_AMP_NUMERIC_HEX = r"&#[xX]0*26;"


def decode_entities(col) -> Column:
    """Named + numeric character references, replace-chain order chosen
    so no decoded character re-enters a later replacement:

    1. named entities EXCEPT &amp;
    2. numeric-escaped ampersands (&#38; / &#x26;) -> sentinel
    3. remaining numeric references (codepoint fold)
    4. &amp; LAST (so &amp;lt; -> &lt;, not <)
    5. sentinel -> '&' (so &#38;lt; -> &lt; and &#38;amp; -> &amp;)
    """
    c = col
    for ent, rep in _ENTITIES:
        if ent == "&amp;":
            continue
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, _AMP_NUMERIC_DEC, _AMP_SENTINEL)
    c = F.regexp_replace(c, _AMP_NUMERIC_HEX, _AMP_SENTINEL)
    c = decode_numeric_entities(c)
    c = F.replace(c, F.lit("&amp;"), F.lit("&"))
    return F.replace(c, F.lit(_AMP_SENTINEL), F.lit("&"))


def html_to_text(col) -> Column:
    """Markup stripped, entities decoded (named + numeric), whitespace
    collapsed."""
    return F.trim(
        F.regexp_replace(decode_entities(strip_markup(col)), r"\s+", " ")
    )


def extract_title(col) -> Column:
    return F.trim(
        decode_entities(F.regexp_extract(col, r"(?si)<title\b[^>]*>(.*?)</title>", 1))
    )


def extract_links(col) -> Column:
    """array<string> of href values (double- or single-quoted)."""
    return F.regexp_extract_all(
        col, F.lit(r"""(?si)<a\b[^>]*\bhref\s*=\s*["']([^"']*)["']"""), F.lit(1)
    )


def escape_text(col) -> Column:
    """Text -> HTML-safe (&, <, > escaped) — the generation inverse the
    gates use to build synthetic pages whose extraction must recover
    the original text."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))
