"""HTTP response-message parsing for crawl payloads — pure column
expressions.

Common Crawl ``response`` records carry the FULL HTTP message in the
WARC payload: status line + headers + CRLFCRLF + body. A pipeline that
HTML-extracts the raw payload feeds status lines and ``Set-Cookie``
headers into its text corpus; the header/body split is the first
operation after ingestion. Everything here is engine-portable
(instr/substring/regexp), so DuckDB oracles run the identical chain.

Charset note: the authoritative ``charset=`` for a crawl page lives in
the HTTP ``Content-Type`` header INSIDE the payload (the WARC record's
own Content-Type is ``application/http; msgtype=response``). The
header block is ASCII by RFC 9112, so sniffing it from a latin-1
decode of the payload is lossless; pair ``http_content_type`` with
``functions.charset.decode_payload`` to decode the body bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_CRLFCRLF = "\r\n\r\n"


def _text(payload) -> Column:
    """Payload as latin-1 text: never fails, byte-position-preserving
    (one char per byte), so header offsets computed on it are valid
    byte offsets into the binary payload."""
    return F.decode(payload, "ISO-8859-1")


def is_http_response(payload) -> Column:
    return _text(payload).startswith("HTTP/")


def http_status(payload) -> Column:
    """Status code (int) from the status line, null for non-HTTP
    payloads."""
    s = F.regexp_extract(_text(payload), r"^HTTP/[0-9.]+ (\d{3})", 1)
    return F.when(s != "", s.cast("int"))


def http_header_block(payload) -> Column:
    """The raw header block (status line included), '' when the
    payload is not an HTTP message."""
    t = _text(payload)
    sep = F.instr(t, _CRLFCRLF)
    return F.when(
        is_http_response(payload) & (sep > 0), F.substring(t, 1, sep - 1)
    ).otherwise(F.lit(""))


def http_header(payload, name: str) -> Column:
    """Value of one header (case-insensitive, first occurrence), ''
    when absent. ``name`` is a literal, not a column — it is compiled
    into the regex."""
    import re as _re

    pat = r"(?im)^" + _re.escape(name) + r"\s*:\s*([^\r\n]*)"
    return F.regexp_extract(http_header_block(payload), pat, 1)


def http_content_type(payload) -> Column:
    return http_header(payload, "Content-Type")


def http_body(payload) -> Column:
    """Body BYTES (binary) after the CRLFCRLF separator; non-HTTP
    payloads pass through whole (a crawl mixes response records with
    plain resources). Positions computed on the latin-1 view are byte
    positions, so the substring on binary is exact."""
    t = _text(payload)
    sep = F.instr(t, _CRLFCRLF)
    return F.when(
        is_http_response(payload) & (sep > 0),
        F.substring(payload, sep + 4, F.octet_length(payload) - sep - 3),
    ).otherwise(payload)
