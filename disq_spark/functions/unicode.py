"""Unicode normalization for the text tier.

Crawled text mixes composed (NFC) and decomposed (NFD) forms of the
same characters — 'é' as U+00E9 vs 'e'+U+0301 — which hash differently,
so exact dedup, minhash shingles, and fingerprints silently treat equal
documents as distinct. Every production pipeline NFC-normalizes before
hashing.

The JVM has no normalization builtin reachable from Spark SQL, so this
is an Arrow-batched kernel (``unicodedata.normalize`` over pandas
string columns — C-implemented per string, vectorized per batch).
DuckDB has ``nfc_normalize`` natively, so oracles mirror exactly:
Python's unicodedata and DuckDB's utf8proc both implement Unicode
normalization per the UAX #15 spec and agree on every code point of
the same Unicode version (pinned by the gate's hash match).

ASCII fast path: a batch column that is pure ASCII is returned
untouched (normalize is the identity on ASCII), so corpora that are
mostly ASCII pay one vectorized check, not a per-string normalize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nfc_normalize_col(df: DataFrame, text_col: str, out_col: str | None = None,
                      form: str = "NFC") -> DataFrame:
    """df with ``out_col`` (default: text_col replaced) = the
    ``form``-normalized text. Arrow-batched; column order preserved."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD: {form!r}")
    out_col = out_col or text_col
    cols = list(df.columns)
    if out_col not in cols:
        cols.append(out_col)
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" if c in df.columns else f"{c} string"
        for c in cols
    )

    def kernel(batches):
        import unicodedata

        for pdf in batches:
            s = pdf[text_col]
            # vectorized ASCII fast path: normalize is identity on ASCII
            mask = ~s.map(lambda x: isinstance(x, str) and x.isascii(), na_action=None)
            if mask.any():
                norm = s.copy()
                norm[mask] = s[mask].map(
                    lambda x: unicodedata.normalize(form, x) if isinstance(x, str) else x
                )
            else:
                norm = s
            pdf = pdf.copy()
            pdf[out_col] = norm
            yield pdf[cols]

    return df.mapInPandas(kernel, schema)
