"""PII scrubbing for training-data curation (brief §extensions: the
redaction pass every pretraining pipeline runs before tokenization).

Pure regexp built-ins — whole-stage codegen, no UDF, no shuffle; the
scrubber is a narrow projection that composes with the parquet scan.
Patterns are written in the Java-regex ∩ RE2 common subset (no
lookarounds, ASCII classes only) so the DuckDB oracle can replay them
byte-for-byte and the hash gate covers the actual redaction semantics.

Counts are taken SEQUENTIALLY (each pattern counted on the text as
left by the previous redaction), which makes the ordering part of the
contract: an SSN already replaced by <SSN> can't also be counted as a
phone number.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — applied in order. Email first (its
# local part may contain digits that later patterns would chew on),
# SSN before IPv4/phone (three digit groups look phone-ish), IPv4
# before phone (dotted quads are digit runs).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}\b|\b\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, redacted, n_email, n_ssn, n_ipv4, n_phone).

    ``redacted`` is the text with every match replaced by its token;
    the per-kind counts are exact match counts at the point in the
    sequence where that pattern ran.
    """
    cur: Column = F.col(text_col)
    counts: list[Column] = []
    for name, pattern, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pattern)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, repl)
    return df.select(F.col(id_col), cur.alias("redacted"), *counts)


def redacted_text(col: Column | str) -> Column:
    """The redaction chain alone, as a column expression — compose it
    into wider projections (no forced narrow select, no join-back)."""
    cur: Column = F.col(col) if isinstance(col, str) else col
    for _name, pattern, repl in PII_PATTERNS:
        cur = F.regexp_replace(cur, pattern, repl)
    return cur


def pii_oracle_sql(source_expr: str, id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`scrub_pii` over ``source_expr`` (a SQL
    expression yielding the text). DuckDB's regexp_replace is
    first-match-only without the 'g' flag — Spark's is global, so the
    flag is load-bearing."""
    cur = source_expr
    count_cols = []
    for name, pattern, repl in PII_PATTERNS:
        # standard-SQL string literal: backslashes pass through verbatim,
        # only quotes need doubling.
        pat_sql = pattern.replace("'", "''")
        count_cols.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat_sql}')) AS BIGINT) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat_sql}', '{repl}', 'g')"
    cols = ",\n  ".join([id_col, f"{cur} AS redacted"] + count_cols)
    return cols


# HTML cleaning for web-corpus curation. Same Java-regex ∩ RE2 subset
# discipline as PII_PATTERNS; applied strictly in order. Containers
# with executable/styling payloads go first (content removed wholesale),
# then tags, then a fixed entity table, then whitespace normalization.
# Entity decode runs ONCE after tag stripping and is deliberately
# non-recursive: '&amp;lt;' decodes to '&lt;', never to '<' — the
# single-pass contract that keeps decoded text from re-entering the
# tag stripper (double-decode injection).
HTML_STRIP_PATTERNS: list[tuple[str, str]] = [
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
]

HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # last: earlier decodes must not create new '&xx;' forms
]


def strip_html(col: Column | str) -> Column:
    """Cleaned text from HTML-ish input as one column expression:
    script/style/comment blocks dropped, tags replaced by spaces, the
    fixed entity table decoded once, whitespace collapsed and trimmed.
    Pure regexp/replace built-ins — codegen, no UDF, no shuffle."""
    cur: Column = F.col(col) if isinstance(col, str) else col
    for pattern, repl in HTML_STRIP_PATTERNS:
        cur = F.regexp_replace(cur, pattern, repl)
    for ent, ch in HTML_ENTITIES:
        cur = F.replace(cur, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(cur, r"[ \t\r\n]+", " "))


def clean_html(
    df: DataFrame, text_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(id, text_clean, n_tags): cleaned text plus the tag count on the
    ORIGINAL input (markup density — a curation quality signal)."""
    return df.select(
        F.col(id_col),
        strip_html(text_col).alias("text_clean"),
        F.regexp_count(F.col(text_col), F.lit(r"<[^>]+>"))
        .cast("long")
        .alias("n_tags"),
    )


def html_oracle_sql(source_expr: str, id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`clean_html` over ``source_expr`` — the
    select-list columns replaying the exact pattern sequence (RE2 on
    both engines; DuckDB needs the 'g'/'s' flags spelled out)."""
    cur = source_expr
    for pattern, repl in HTML_STRIP_PATTERNS:
        flags = "'gs'" if pattern.startswith("(?s)") else "'g'"
        pat_sql = pattern.removeprefix("(?s)").replace("'", "''")
        cur = f"regexp_replace({cur}, '{pat_sql}', '{repl}', {flags})"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        cur = f"replace({cur}, '{ent}', '{ch_sql}')"
    cleaned = f"trim(regexp_replace({cur}, '[ \\t\\r\\n]+', ' ', 'g'))"
    n_tags = (
        f"CAST(len(regexp_extract_all({source_expr}, '<[^>]+>')) AS BIGINT)"
    )
    return f"{id_col}, {cleaned} AS text_clean, {n_tags} AS n_tags"

