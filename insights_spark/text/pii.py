"""PII detection + redaction over a documents table.

The standard pre-training hygiene pass (emails, phone numbers, IPv4
addresses → typed placeholder tokens) a web corpus runs before anything
else touches the text. Reference parity: the insights pipeline stores
raw user-generated changeset text verbatim (changesetmd schema,
osm_changeset.tags) — a web-scale re-expression must scrub it before it
can leave the ingest boundary.

Scale posture: pure JVM `regexp_count`/`regexp_replace` column
expressions — map-only, zero shuffle, whole-stage codegen, and every
pattern is dialect-portable (Java regex == RE2 semantics for these
constructs) so the DuckDB oracle reproduces counts and redacted text
byte-for-byte. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Dialect-portable patterns: character classes, bounded repetition and \b
# behave identically under Java regex (Spark) and RE2 (DuckDB). Kept
# deliberately simple — recall-oriented, like the C4/CCNet scrubbers.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\(\d{3}\) \d{3}-\d{4}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"
IP_TOKEN = "<IP>"


def pii_scrub(df: DataFrame) -> DataFrame:
    """Per-doc PII counts + redacted text.

    Counts are measured on the ORIGINAL text; redaction applies email →
    phone → IPv4 in that order (emails are redacted first so a digit-y
    domain like ``a@1.2.3.4.example`` can't double-count as an IP after
    partial rewriting). Output: (id, n_emails, n_phones, n_ips,
    redacted). NULL text rows pass through with NULL counts/redaction —
    upstream gates own null policy, a scrubber must not drop rows.
    """
    t = F.col("text")
    redacted = F.regexp_replace(t, EMAIL_RE, EMAIL_TOKEN)
    redacted = F.regexp_replace(redacted, PHONE_RE, PHONE_TOKEN)
    redacted = F.regexp_replace(redacted, IPV4_RE, IP_TOKEN)
    return df.select(
        F.col("doc_id"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("int").alias("n_ips"),
        redacted.alias("redacted"),
    )
