"""PII detection and redaction over text columns.

Training corpora scraped from the web must mask emails, phone numbers,
SSNs and IP addresses before the data is packed. Greenfield operator (the
reference engine has no text surface); Spark-first design:

- detection and masking are chained ``regexp_count`` / ``regexp_replace``
  JVM expressions, returned as Spark SQL text (one py4j round trip per
  expression; hand it to ``selectExpr`` or ``F.expr``) — map-only, no
  shuffle, no Python; at 100 TB this runs inside whole-stage codegen at
  scan speed. The patterns go in as raw ``r'…'`` literals: a plain Spark
  string literal would unescape their backslashes;
- the patterns are deliberately restricted to syntax that Java regex and
  RE2-family engines (DuckDB) interpret identically — no backreferences,
  no lookarounds — so the DuckDB oracle replicates them verbatim.
"""

from __future__ import annotations

# Pattern order matters: emails before phones (digits in local parts),
# SSNs before phones (a phone pattern must not half-consume an SSN).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", r"\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{3,4}", "<PHONE>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def pii_count(text: str, kind: str) -> str:
    """Occurrences of one PII kind (``email``/``ssn``/``phone``/``ip``) in
    the string SQL expression ``text``, as SQL text."""
    for name, pat, _ in PII_PATTERNS:
        if name == kind:
            return f"CAST(regexp_count({text}, r'{pat}') AS BIGINT)"
    raise ValueError(f"unknown PII kind: {kind}")


def redact_pii(text: str) -> str:
    """``text`` with every PII kind masked, applying patterns in
    :data:`PII_PATTERNS` order, as SQL text."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = f"regexp_replace({out}, r'{pat}', '{token}')"
    return out


def pii_count_sql(text_sql: str, kind: str) -> str:
    """DuckDB replica of :func:`pii_count`."""
    for name, pat, _ in PII_PATTERNS:
        if name == kind:
            escaped = pat.replace("'", "''")
            return f"CAST(len(regexp_extract_all({text_sql}, '{escaped}')) AS BIGINT)"
    raise ValueError(f"unknown PII kind: {kind}")


def redact_pii_sql(text_sql: str) -> str:
    """DuckDB replica of :func:`redact_pii` (global-flag replaces, same order)."""
    out = text_sql
    for _, pat, token in PII_PATTERNS:
        escaped = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped}', '{token}', 'g')"
    return out
