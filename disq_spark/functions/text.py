"""Text-analysis functions for LLM training-data pipelines.

All pure Column expressions (whole-stage codegen; zero Python in the hot
path — at 100 TB these run at parquet-scan speed). Each has a documented
ANSI-SQL equivalent used by the DuckDB oracle (see queries/llm.py).

Covers: tokenization + token counting, document fingerprinting,
stopword-based language ID, and a composite quality score — the text
operators SURVEY.md's north-star calls for beyond the reference's own
surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and hard-coded so the Spark and oracle
# implementations are trivially identical.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est", "une"),
    "es": ("el", "los", "y", "que", "en", "una", "por"),
    "it": ("il", "di", "che", "non", "per", "con", "sono"),
}
LANG_ORDER = ("en", "de", "fr", "es", "it")


def normalize(col) -> Column:
    """Lowercase, collapse whitespace, trim — canonical text form."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col) -> Column:
    """Whitespace tokenization -> array<string> (empty text -> empty array)."""
    t = normalize(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, " "))


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


# BPE-ish subword segmentation: words / number runs / single punctuation
# marks, in the spirit of the GPT-2 pre-tokenizer but restricted to a
# regex dialect Java (Spark) and RE2-ish engines (DuckDB) evaluate
# identically — the token-count estimator for pipeline budgeting.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_tokens(col) -> Column:
    """Subword-ish tokens of the normalized text -> array<string>."""
    return F.regexp_extract_all(normalize(col), F.lit(BPE_PATTERN), 0)


def bpe_token_count(col) -> Column:
    return F.size(bpe_tokens(col)).cast("long")


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    (The reference has no text surface; this replaces a rolling-hash
    fingerprint with a cryptographic one — portable and collision-safe.)
    """
    return F.md5(normalize(col))


def stopword_ratio(col, lang: str = "en") -> Column:
    toks = tokens(col)
    words = STOPWORDS[lang]
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def punct_ratio(col) -> Column:
    """Fraction of characters that are not [a-z0-9 ] after normalization."""
    t = normalize(col)
    stripped = F.regexp_replace(t, r"[a-z0-9 ]", "")
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(F.length(stripped) / F.length(t))


def quality_score(col) -> Column:
    """Composite quality heuristic in [0, 1]:

    0.4 * saturating token count (tokens/100 capped at 1)
    + 0.4 * english stopword ratio scaled (ratio/0.4 capped at 1)
    + 0.2 * (1 - punctuation ratio)
    """
    tok_term = F.least(token_count(col) / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col, "en") / F.lit(0.4), F.lit(1.0))
    punct_term = 1 - punct_ratio(col)
    return 0.4 * tok_term + 0.4 * stop_term + 0.2 * punct_term


def lang_scores(col) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    toks = tokens(col)
    out = {}
    for lang in LANG_ORDER:
        words = STOPWORDS[lang]
        out[lang] = F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
    return out


def lang_id(col) -> Column:
    """Argmax language by stopword hits; ties broken by LANG_ORDER;
    zero hits everywhere -> 'und' (undetermined)."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# PII redaction (the SHIPPING op behind the text_pii_scan metrics):
# ordered regexp_replace chain over the RAW text (redaction must not
# destroy casing/layout the way normalize() would). Order matters: URLs
# first (emails/digit-runs inside a URL vanish with it), then emails,
# IPs, and bare long digit runs. Patterns stay in the Java/RE2 shared
# dialect (no lookaround/backrefs) so the DuckDB oracle runs the same
# chain; (?i) covers raw-case text.
PII_REDACTIONS = [
    ("(?i)https?://[^ ]+", "<URL>"),
    ("(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("[0-9]{7,}", "<ID>"),
]


def redact_pii(col) -> Column:
    """Raw text with URL/email/IP/long-digit-run spans replaced by typed
    placeholders — one codegen'd regexp_replace chain, scan-speed."""
    c = col
    for pat, rep in PII_REDACTIONS:
        c = F.regexp_replace(c, pat, rep)
    return c


def redact_pii_sql(expr: str) -> str:
    """DuckDB mirror of ``redact_pii`` (needs the 'g' flag; Spark
    replaces all matches by default)."""
    c = expr
    for pat, rep in PII_REDACTIONS:
        c = f"regexp_replace({c}, '{pat}', '{rep}', 'g')"
    return c
