"""Privacy / governance layer (SURVEY.md §2.10 G3/G5/G6/G8).

OSS Spark has no column-bound masking policies, so the reference's
PAN_MASK policy + role grants (A4:1019-1026, 977-1012) become a
policy-aware view factory: ``masked_view(df, role)`` applies per-role
masking expressions; the expressions themselves mirror A4's masks exactly
(regex PAN mask, hash+last4, last-4 slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_school_spark.operators.setops import values_table

# role → masking strategy for a PAN-like column (A4:1019-1026)
ROLES = ("admin", "auditor", "analyst")


def mask_pan(col, role: str):
    """The PAN_MASK policy body as an expression factory."""
    c = F.col(col) if isinstance(col, str) else col
    if role == "admin":
        return c
    if role == "auditor":  # sha2 prefix + last 4 (A4:1022)
        return F.concat(F.substring(F.sha2(c, 256), 1, 12), F.lit("..."), F.expr(f"right({col}, 4)"))
    if role == "analyst":  # keep last 4 (A4:945-949, 983)
        # {0,15} covers the full 13-19 digit PAN range; {0,12} would let
        # 17-19 digit PANs through unmasked (found by property testing)
        return F.regexp_replace(c, r"^([0-9]{0,15})([0-9]{4})$", r"***************$2")
    return F.lit("MASKED")


def masked_view(df: DataFrame, role: str, masked_cols: list[str]) -> DataFrame:
    """G5/G6: the role-scoped view over a sensitive table."""
    cols = [
        mask_pan(c, role).alias(c) if c in masked_cols else F.col(c) for c in df.columns
    ]
    return df.select(*cols)


def anonymize(df: DataFrame, pan_col: str, id_col: str) -> DataFrame:
    """G3 PROC_ANONYMIZE: irreversible projection — sha2 the PAN, generalize
    the id to a 100-bucket (A4:1038-1067). Callers overwrite the target
    with the result (truncate+insert ≡ overwrite write)."""
    return df.withColumn(pan_col, F.sha2(F.col(pan_col).cast("string"), 256)).withColumn(
        id_col, F.abs(F.col(id_col)) % 100
    )


def forget_keys(df: DataFrame, key_col: str, keys: DataFrame | list) -> DataFrame:
    """Right-to-erasure projection: drop every row whose ``key_col`` is in
    the deletion set (an anti join — at scale only keys move, and with a
    small deletion list the join broadcasts). Callers overwrite the table
    with the result, like ``anonymize``."""
    spark = df.sparkSession
    if isinstance(keys, list):
        keys_df = values_table(spark, [(k,) for k in keys], f"{key_col} {df.schema[key_col].dataType.simpleString()}")
    else:
        keys_df = keys.toDF(key_col)
    return df.join(F.broadcast(keys_df), key_col, "left_anti")


def pii_classification(spark: SparkSession) -> DataFrame:
    """G8: the static PII registry (A4:950-970)."""
    rows = [
        ("cc_trans_all", "card_number", "PAN", "HIGH", True, "PAN_MASK", "primary account number"),
        ("cc_trans_all", "merchant_id", "QUASI_ID", "MEDIUM", True, "MOD_BUCKET", "linkable merchant"),
        ("client_buy_orders", "name", "NAME", "MEDIUM", True, "NONE", "customer name"),
        ("client_buy_orders", "email", "EMAIL", "MEDIUM", True, "NONE", "contact"),
        ("client_buy_orders", "phone", "PHONE", "MEDIUM", True, "NONE", "contact"),
        ("client_buy_orders", "address", "ADDRESS", "MEDIUM", True, "NONE", "location"),
    ]
    return values_table(
        spark,
        rows,
        "object_name string, column_name string, pii_type string, sensitivity_level string, "
        "masking_required boolean, masking_rule string, rationale string",
    )


# --------------------------------------------------------------------------
# Corpus PII scrubbing (training-data pipeline extension; reference
# analog: none). The C4-style pre-training redaction pass: emails, URLs,
# IPv4s and phone-like digit runs are replaced with typed placeholder
# tokens BEFORE tokenization/dedup, so secrets cannot survive into a
# trained model or a dedup fingerprint. Pure JVM regexp expressions —
# embarrassingly parallel, no shuffle, and streaming-safe (the same
# projection runs unchanged on readStream).
#
# Pattern dialect: the RE2-compatible subset of Java regex (no
# lookarounds, no backrefs), so the identical patterns run on Spark,
# DuckDB, and Go/Rust RE2 engines — redaction must behave identically
# wherever the corpus is re-processed.
# --------------------------------------------------------------------------
PII_PATTERNS = {
    # order matters: URLs first (emails/IPs inside URLs vanish with the
    # URL), then emails, then bare IPs, then phone-like digit runs
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{2,4}\)?[-. ][0-9]{3,4}[-. ][0-9]{3,4}\b",
}


def pii_counts(col, patterns: dict[str, str] | None = None):
    """One count column per PII category, counted on the PROGRESSIVELY
    redacted text: category i is counted after every earlier category has
    been replaced, mirroring ``scrub_pii``'s sequential order. Counts
    therefore equal the placeholders actually emitted — an email inside a
    URL increments only ``n_url`` (it is gone by the time the email pass
    runs), so the audit trail sums to the placeholder total exactly."""
    c = F.col(col) if isinstance(col, str) else col
    pats = patterns or PII_PATTERNS
    out = {}
    for name, rx in pats.items():
        out[f"n_{name}"] = F.size(F.regexp_extract_all(c, F.lit(rx), 0))
        c = F.regexp_replace(c, rx, f"<{name.upper()}>")
    return out


def scrub_pii(col, patterns: dict[str, str] | None = None):
    """Redacted text: each category replaced by its typed placeholder
    (``<URL>``, ``<EMAIL>``, ...) in the fixed category order."""
    c = F.col(col) if isinstance(col, str) else col
    for name, rx in (patterns or PII_PATTERNS).items():
        c = F.regexp_replace(c, rx, f"<{name.upper()}>")
    return c


def scrub_corpus(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus scrubbing pass: per-category counts (audit trail) +
    redacted text replacing the original column."""
    counts = pii_counts(text_col)
    out = df
    for name, expr in counts.items():
        out = out.withColumn(name, expr)
    return out.withColumn(text_col, scrub_pii(text_col))
