"""Dictionary / lookup rewrite strategies (SURVEY §2.4 M1-M5).

Spark-first pattern for every lookup: the dictionary becomes a *broadcast
dimension DataFrame* joined on a normalized key; unmapped values surface via
a bounded anti-join (V6 error accumulation, ~ transform/error.rs:16-60).
Small literal maps compile to ``F.element_at(F.create_map(...))`` — pure
expression, no join, no shuffle.
"""

from __future__ import annotations

import difflib
from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import strict_check
from ..functions.text import normalize_key
from ..session import local_frame

# Builtin synonym dictionaries (~ transform/strategies/mapping.rs:92-178).
SEX_MAP = {
    "m": "MALE", "male": "MALE", "man": "MALE", "boy": "MALE",
    "f": "FEMALE", "female": "FEMALE", "woman": "FEMALE", "girl": "FEMALE",
    "o": "OTHER_SEX", "other": "OTHER_SEX", "intersex": "OTHER_SEX",
    "u": "UNKNOWN_SEX", "unknown": "UNKNOWN_SEX", "na": "UNKNOWN_SEX",
}
VITAL_STATUS_MAP = {
    "alive": "ALIVE", "living": "ALIVE", "yes": "ALIVE", "y": "ALIVE",
    "deceased": "DECEASED", "dead": "DECEASED", "no": "DECEASED", "n": "DECEASED",
    "unknown": "UNKNOWN_STATUS", "na": "UNKNOWN_STATUS",
}

#: Cells already shaped like a CURIE pass ontology normalisation untouched.
_CURIE_RX = r"^[A-Za-z]+:\d+$"


class UnmappedValueError(ValueError):
    """Exhaustive-but-bounded report of unmapped values with suggestions."""

    def __init__(self, column: str, entries: list[tuple[str, list[str]]]):
        self.column, self.entries = column, entries
        msg = "; ".join(
            f"{v!r} (suggestions: {sug})" if sug else repr(v) for v, sug in entries
        )
        super().__init__(f"column {column!r}: unmapped values: {msg}")


def literal_map_expr(col: Column | str, mapping: dict, default_passthrough: bool = True,
                     normalize: bool = False) -> Column:
    """M1 small-map path: create_map lookup; non-matches pass through
    (alias-map semantics, ~ alias_map.rs:70-134) or null out."""
    c = F.col(col) if isinstance(col, str) else col
    key = normalize_key(c) if normalize else c
    m = F.create_map(*list(chain.from_iterable((F.lit(k), F.lit(v)) for k, v in mapping.items())))
    looked = F.element_at(m, key.cast("string"))
    return F.coalesce(looked, c.cast("string")) if default_passthrough else looked


def mapping_dim(spark, mapping: dict, key_col: str = "key", val_col: str = "value") -> DataFrame:
    """Materialize a Python dict as a broadcast-able dimension DataFrame."""
    return local_frame(spark, list(mapping.items()), f"{key_col} string, {val_col} string")


def apply_synonym_mapping(
    df: DataFrame,
    column: str,
    dim: DataFrame,
    strict: bool = True,
    out_col: str | None = None,
    ledger=None,
) -> DataFrame:
    """M2 (~ mapping.rs:181-278): broadcast-join on lower(trim(key));
    strict mode errors with every unmapped value + closest-match suggestions
    (check ``unmapped:<column>`` on a ``ledger``, see errors.strict_check)."""
    out_col = out_col or column
    keyed = df.withColumn("_k", normalize_key(F.col(column)))
    dimmed = F.broadcast(dim.select(normalize_key("key").alias("_k"), F.col("value").alias("_mapped")))
    joined = keyed.join(dimmed, "_k", "left")
    if strict:
        def unmapped(bad_rows):
            # dims are small by contract, but bound the collect anyway —
            # every other error path is limit-bounded
            vocab = [r["key"] for r in dim.select("key").limit(10000).collect()]
            return UnmappedValueError(column, [
                (r[0], difflib.get_close_matches(str(r[0]).lower(), vocab, n=3))
                for r in bad_rows
            ])

        strict_check(
            ledger, f"unmapped:{column}",
            joined.filter(F.col(column).isNotNull() & F.col("_mapped").isNull())
            .select(column).distinct(),
            unmapped,
        )
        result = joined.withColumn(out_col, F.col("_mapped"))
    else:
        result = joined.withColumn(out_col, F.coalesce(F.col("_mapped"), F.col(column).cast("string")))
    return result.drop("_k", "_mapped")


def apply_alias_map(df: DataFrame, column: str, alias_map: dict,
                    null_sentinels: tuple = ()) -> DataFrame:
    """M1 (~ alias_map.rs:70-134): cell substitution from a config map;
    values mapped to None (or listed in ``null_sentinels``) become null;
    non-matches pass through unchanged."""
    c = F.col(column).cast("string")
    nulls = [k for k, v in alias_map.items() if v is None] + list(null_sentinels)
    real = {k: v for k, v in alias_map.items() if v is not None}
    expr = literal_map_expr(c, real, default_passthrough=True) if real else c
    if nulls:
        expr = F.when(c.isin(*nulls), F.lit(None).cast("string")).otherwise(expr)
    return df.withColumn(column, expr)


def normalize_to_ontology(
    df: DataFrame,
    column: str,
    ontology_dim: DataFrame,
    strict: bool = True,
    ledger=None,
) -> DataFrame:
    """M3 (~ ontology_normaliser.rs:75-141): label-or-synonym → canonical id
    via a broadcast ontology dimension ``(key, id)`` (key already lowercased
    label or synonym).  CURIE-shaped cells pass through untouched.  Strict
    mode errors with every unmapped label (check ``unmapped_ontology:<column>``
    on a ``ledger``, see errors.strict_check)."""
    is_id = F.col(column).rlike(_CURIE_RX)
    keyed = df.withColumn("_k", F.when(~is_id, normalize_key(F.col(column))))
    dim = F.broadcast(ontology_dim.select(normalize_key("key").alias("_k"), F.col("id").alias("_id")))
    joined = keyed.join(dim, "_k", "left")
    if strict:
        strict_check(
            ledger, f"unmapped_ontology:{column}",
            joined.filter(F.col(column).isNotNull() & ~is_id & F.col("_id").isNull())
            .select(column).distinct(),
            lambda bad: UnmappedValueError(column, [(r[0], []) for r in bad]),
        )
    expr = F.when(is_id, F.col(column).cast("string")).otherwise(F.col("_id"))
    return joined.withColumn(column, expr).drop("_k", "_id")


def split_by_membership(
    df: DataFrame,
    column: str,
    primary_dim: DataFrame,
    secondary_dim: DataFrame,
    primary_col: str | None = None,
    secondary_col: str | None = None,
) -> DataFrame:
    """M5 (~ hpo_disease_splitter.rs:66-150): split one column into two by
    dictionary membership — primary dictionary wins; membership via two
    broadcast semi-join flags computed in one pass."""
    primary_col = primary_col or f"{column}_hpo"
    secondary_col = secondary_col or f"{column}_disease"
    k = normalize_key(F.col(column))
    p = F.broadcast(primary_dim.select(normalize_key("key").alias("_pk")).distinct())
    s = F.broadcast(secondary_dim.select(normalize_key("key").alias("_sk")).distinct())
    out = (
        df.withColumn("_k", k)
        .join(p.withColumn("_pin", F.lit(True)), F.col("_k") == F.col("_pk"), "left")
        .join(s.withColumn("_sin", F.lit(True)), F.col("_k") == F.col("_sk"), "left")
    )
    return (
        out.withColumn(primary_col, F.when(F.col("_pin"), F.col(column)))
        .withColumn(secondary_col, F.when(F.col("_pin").isNull() & F.col("_sin"), F.col(column)))
        .drop("_k", "_pk", "_sk", "_pin", "_sin")
    )
