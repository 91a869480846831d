"""String/id scalar functions (SURVEY §2.3 C12, C15-C17)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HPO_ID_RX = r"HP:\d{7}"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def extract_hpo_ids(col: Column | str) -> Column:
    """C12 (~ multi_hpo_col_expansion.rs:143-149): all 'HP:\\d{7}' substrings."""
    return F.regexp_extract_all(_c(col), F.lit(HPO_ID_RX), 0)


def normalize_key(col: Column | str) -> Column:
    """C15: lowercase + trim — the dictionary-lookup key normalization."""
    return F.lower(F.trim(_c(col)))


def strip_punct(col: Column | str) -> Column:
    """C16 (~ loinc_client.rs:227-231): remove ASCII punctuation."""
    return F.regexp_replace(_c(col), r"[!-/:-@\[-`{-~]", "")


def prefixed_id(prefix: Column | str, value: Column | str, sep: str = "-") -> Column:
    """C17 (~ phenopacket_builder.rs:617-622): '{prefix}-{value}' unless value
    already starts with '{prefix}{sep}'."""
    p, v = _c(prefix).cast("string"), _c(value).cast("string")
    already = v.startswith(F.concat(p, F.lit(sep)))
    # null value → null id (concat_ws would silently emit the bare prefix,
    # colliding every null row onto one id)
    return (
        F.when(v.isNull(), F.lit(None).cast("string"))
        .when(already, v)
        .otherwise(F.concat_ws(sep, p, v))
    )
