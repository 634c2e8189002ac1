"""PII scrubbing for training-data pipelines (the redaction pass
corpus preps run before release — Dolma / BigScience-ROOTS style):
replace emails, IPv4 addresses, and phone numbers with fixed masks
and count what was replaced.

Pure Column expressions — sequential ``regexp_replace`` passes inside
whole-stage codegen, no Python per row. Patterns use only the regex
subset Java (Spark) and RE2 (DuckDB) parse identically: character
classes, bounded repetition, non-capturing groups, ``\\b`` — no
lookaround, no backreferences. The DuckDB twins embed the SAME
pattern constants (DuckDB needs the explicit ``'g'`` flag; Spark
replaces globally by default).

Order is fixed and semantic: emails first (an email whose host is a
dotted quad would otherwise lose its host to the IP pass), then IPv4
(strict 0-255 octets), then phones. Counts are taken on the text AS
SEEN by that pass (after the earlier masks), so counts and
replacements always agree, in both engines. Masks contain no digits
or ``@`` so the scrub is idempotent; every count is exact integer
math and the twin is value-hash exact.

The phone pattern requires separators (NANP-ish ``555-123-4567``,
``(555) 123-4567``, optional ``+CC``): a bare 10-digit run is an id
or a timestamp far more often than a phone number in web text —
documented precision bias, not an accident.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import _c

_OCTET = r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = rf"\b{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET}\b"
PHONE_RE = (
    r"(?:\+[0-9]{1,2}[ .-]?)?"
    r"(?:\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])"
    r"[0-9]{3}[ .-][0-9]{4}"
)

EMAIL_MASK = "|||EMAIL|||"
IPV4_MASK = "|||IP|||"
PHONE_MASK = "|||PHONE|||"

# (kind, pattern, mask) in the fixed scrub order
PII_KINDS = (
    ("email", EMAIL_RE, EMAIL_MASK),
    ("ipv4", IPV4_RE, IPV4_MASK),
    ("phone", PHONE_RE, PHONE_MASK),
)


def _count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast(
        T.LongType()
    )


def scrub_pii(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(id, text, n_email, n_ipv4, n_phone)`` — text with every
    match masked, counts per kind (counted on the text each pass
    actually saw, so Σcounts == Σmasks inserted)."""
    cur = _c(text_col)
    cols = [F.col(id_col)]
    counts = []
    for kind, pattern, mask in PII_KINDS:
        counts.append(_count(cur, pattern).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pattern, mask)
    return df.select(*cols, cur.alias(text_col), *counts)


def pii_report(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Counts only (same pass semantics as :func:`scrub_pii`), for
    measuring a corpus before committing to a rewrite."""
    return scrub_pii(df, id_col, text_col).drop(text_col)


# ------------------------------------------------------------ DuckDB twins


def _q(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


def scrub_pii_sql(docs_query: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`scrub_pii` (explicit 'g' flag — DuckDB's
    regexp_replace is first-match-only by default)."""
    cur = text_col
    count_exprs = []
    for kind, pattern, mask in PII_KINDS:
        count_exprs.append(
            f"CAST(len(regexp_extract_all({cur}, {_q(pattern)})) AS BIGINT)"
            f" AS n_{kind}"
        )
        cur = f"regexp_replace({cur}, {_q(pattern)}, '{mask}', 'g')"
    counts = ",\n       ".join(count_exprs)
    return f"""
SELECT {id_col},
       {cur} AS {text_col},
       {counts}
FROM ({docs_query})
"""
