"""Grouping / per-subject collection operators (SURVEY §2.5 G1-G7).

The reference materializes one sub-frame per patient
(cdf_collector_broker.rs:32-74) — memory-quadratic at scale.  Spark-first:
the whole collection phase is ONE ``groupBy(subject_id)`` shuffle with
aggregation expressions; cross-table collection is a union of per-table
projections *before* the shuffle, so one shuffle covers all tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import strict_check


#: Offending subjects/rows an eager multiplicity check reports.
ERROR_LIMIT = 5


class MultiplicityError(ValueError):
    pass


def single_valued(
    frames: list[tuple[DataFrame, str, str]],
    alias: str = "value",
    strict: bool = True,
    ledger=None,
) -> DataFrame:
    """G3 (~ collecting/utils.rs:29-71): across tables/columns, each subject
    must have ≤1 distinct non-null value.  ``frames`` is a list of
    ``(df, subject_col, value_col)``.  Returns ``(subject, value)``; >1
    distinct → MultiplicityError (strict; check ``multiple_values:<alias>``
    on a ``ledger``, see errors.strict_check) or null value (lenient).

    Plan shape: union of narrow projections → one groupBy → collect_set.
    The union is shuffle-free; the single shuffle is on subject.
    """
    parts = [
        df.select(
            F.col(subj).cast("string").alias("subject_id"),
            F.col(val).cast("string").alias("_v"),
        ).filter(F.col(val).isNotNull())
        for df, subj, val in frames
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    agg = unioned.groupBy("subject_id").agg(F.collect_set("_v").alias("_vals"))
    if strict:
        strict_check(
            ledger, f"multiple_values:{alias}", agg.filter(F.size("_vals") > 1),
            lambda bad: MultiplicityError(
                f"multiple distinct values for subjects: "
                f"{[(r['subject_id'], sorted(r['_vals'])) for r in bad]}"
            ),
            limit=ERROR_LIMIT,
        )
        return agg.select("subject_id", F.element_at("_vals", 1).alias(alias))
    return agg.select(
        "subject_id",
        F.when(F.size("_vals") == 1, F.element_at("_vals", 1)).alias(alias),
    )


def row_zip_struct(df: DataFrame, subject: str, anchor: str, linked: dict[str, str],
                   alias: str = "item") -> DataFrame:
    """G5 (~ hpo_in_cells_collector.rs:53-98 etc.): same-row struct of an
    anchor column with its linked building-block columns.  Row alignment is
    free in a DataFrame — just a projection; null-anchor rows dropped (P6)."""
    fields = [F.col(anchor).alias("value")] + [
        F.col(src).alias(dst) for dst, src in linked.items()
    ]
    return (
        df.filter(F.col(anchor).isNotNull())
        .select(F.col(subject).cast("string").alias("subject_id"), F.struct(*fields).alias(alias))
    )


def upsert_last(df: DataFrame, keys: list[str], seq: str | Column,
                value_cols: list[str] | None = None) -> DataFrame:
    """G6 (~ phenopacket_builder.rs:218-281): keep the LAST arrival per key —
    upsert semantics made deterministic with an explicit ``seq`` column
    (SURVEY §7.3).  Window + row_number, shuffle-safe."""
    seq_col = F.col(seq) if isinstance(seq, str) else seq
    w = Window.partitionBy(*keys).orderBy(seq_col.desc())
    value_cols = value_cols or [c for c in df.columns if c not in keys]
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, *value_cols)
    )


def header_hpo_collapse(
    df: DataFrame,
    subject: str,
    hpo_columns: list[str],
    onset_column: str | None = None,
) -> DataFrame:
    """G7 (~ hpo_in_header_collector.rs:22-84): observation-status columns
    named by HPO id.  Unpivot → per (subject, hpo) the distinct
    (observed, onset) pairs must collapse to ≤1 after dropping (null,null);
    observed=false → excluded=true.

    Returns (subject_id, hpo_id, observed, excluded, onset)."""
    onset = F.col(onset_column).cast("string") if onset_column else F.lit(None).cast("string")
    parts = [
        df.select(
            F.col(subject).cast("string").alias("subject_id"),
            F.lit(h).alias("hpo_id"),
            F.col(h).cast("boolean").alias("observed"),
            onset.alias("onset"),
        )
        for h in hpo_columns
    ]
    long = parts[0]
    for p in parts[1:]:
        long = long.unionByName(p)
    long = long.filter(F.col("observed").isNotNull() | F.col("onset").isNotNull())
    agg = long.groupBy("subject_id", "hpo_id").agg(
        F.collect_set(F.struct("observed", "onset")).alias("_all_pairs")
    )
    # pairs with a real observation take precedence; observed-null pairs
    # (onset asserted without status) only matter when nothing else exists —
    # conflicting means >1 DISTINCT pair with non-null observed
    # (~ hpo_in_header_collector.rs: (None,None) removed, null-status warns)
    agg = agg.withColumn(
        "_obs_pairs", F.filter(F.col("_all_pairs"), lambda p: p["observed"].isNotNull())
    ).withColumn(
        "_pairs",
        F.when(F.size("_obs_pairs") > 0, F.col("_obs_pairs")).otherwise(F.col("_all_pairs")),
    )
    strict_check(
        None, "conflicting_pairs", agg.filter(F.size("_obs_pairs") > 1),
        lambda bad: MultiplicityError(
            f"conflicting observation-status pairs: "
            f"{[(r['subject_id'], r['hpo_id']) for r in bad]}"
        ),
        limit=ERROR_LIMIT,
    )
    # sort before picking: when only (null-observed, onset) pairs exist and
    # several onsets disagree, collect_set order is nondeterministic — the
    # sorted first element makes the surviving pair stable across runs
    pair = F.element_at(F.array_sort("_pairs"), 1)
    return agg.select(
        "subject_id",
        "hpo_id",
        pair["observed"].alias("observed"),
        (~F.coalesce(pair["observed"], F.lit(True))).alias("excluded"),
        pair["onset"].alias("onset"),
    )

