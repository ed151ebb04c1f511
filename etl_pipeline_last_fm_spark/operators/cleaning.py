"""PII detection and redaction over document text.

The reference pipeline has no PII handling (it processes Last.fm chart
metadata only); this module belongs to the training-data curation family
the engine adds on top of reference parity — at 100 TB scale, scrubbing
contact data out of web text is a standard pre-training step.

Everything is pure Column regex expressions (JVM codegen, no UDF). The
patterns deliberately use only portable regex constructs — character
classes, bounded quantifiers, ``\\b``, ``\\d`` — that Java regex (Spark)
and RE2 (DuckDB) evaluate identically, so the redacted text itself is
engine-identical and the oracle can value-check the md5 of the scrubbed
output, not just the match counts.

Scale shape: a pure per-row map — no shuffle, no join. Regex cost is linear
in text length; at 100 TB the scan stays embarrassingly parallel and
whole-stage codegen fuses the three replacements into one pass per pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Order matters and is part of the contract: emails are redacted before
# IPv4 (an email local-part can contain digit runs an IP pattern could
# clip) and phones last. Both engines apply the same order.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_scrub(df: DataFrame) -> DataFrame:
    """Per-document PII counts plus the fully redacted text (as md5 + length
    — the scrubbed corpus itself would be written next to it in a real run;
    the digest keeps the verification output compact).

    Counts are taken on the ORIGINAL text, before any replacement, so the
    three counters are independent of redaction order."""
    t = F.col("text")
    red = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return df.select(
        F.col("doc_id"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )
