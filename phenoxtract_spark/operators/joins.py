"""Join strategies beyond Spark's defaults (SURVEY §2.5 note: the reference
has no join surface at all; the engine exposes Spark's plus the
scale-pattern joins a 100 TB pipeline needs).

- ``as_of_join``: last right-side row at-or-before each left timestamp.
  Implemented as union + window ``last(ignorenulls)`` — ONE shuffle on the
  key, no range-join row explosion, no per-key driver loops.  This is the
  streaming-friendly formulation (state = one row per key).
- ``write_bucketed``: co-locate repeated large-large joins by pre-bucketing
  both sides on the join key — the shuffle happens once at write time,
  every later join is shuffle-free.

Skew salting (salted aggregates and joins) lives in ``operators/skew.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    right_order: str | None = None,
    prefix: str = "asof_",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the matching right row on the same keys:
    ``direction="backward"`` (default) the most recent right row with
    ``right.ts <= left.ts``; ``"forward"`` the earliest with
    ``right.ts >= left.ts``; ``"nearest"`` whichever of the two is closer
    in time (ties → backward).

    Union both sides, sort within key by (ts, side[, right_order]) — right
    rows at an equal timestamp sort adjacent to the left row so they ARE
    visible in both directions, and ``right_order`` breaks ties among
    right rows deterministically (backward: highest wins; forward: lowest)
    — then carry the right values with a running last (backward) and/or
    first (forward).  Wall-clock cost: one shuffle on ``keys`` (nearest
    re-sorts the same partitions once more, no extra exchange); memory:
    O(1) per row (running carry), never |L|×|R|.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction {direction!r}")
    ord_type = dict(right.dtypes).get(right_order, "int") if right_order else "int"
    rtypes = dict(right.dtypes)
    rts_type = rtypes[right_ts]
    # the right values travel as ONE struct so the window carry is atomic:
    # carrying columns independently with last(ignorenulls) could stitch
    # together fields from different right rows when values are null.  The
    # right timestamp rides along as `__rts` for the nearest-delta compare.
    rstruct_type = (
        "struct<"
        + ",".join(f"`{v}`:{rtypes[v]}" for v in right_vals)
        + f",`__rts`:{rts_type}>"
    )
    l_tagged = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(ord_type).alias("_ord"),
        F.lit(None).cast(rstruct_type).alias("_rv"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        (F.col(right_order) if right_order else F.lit(0)).cast(ord_type).alias("_ord"),
        F.struct(
            *[F.col(v) for v in right_vals], F.col(right_ts).alias("__rts")
        ).alias("_rv"),
        F.lit(None).cast(l_tagged.schema["_lrow"].dataType.simpleString()).alias("_lrow"),
    )
    u = l_tagged.unionByName(r_tagged)
    picked = None
    if direction in ("backward", "nearest"):
        wb = (
            Window.partitionBy(*keys)
            .orderBy("_ts", "_side", F.col("_ord").asc_nulls_last())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = u.withColumn("_rb", F.last("_rv", ignorenulls=True).over(wb))
        picked = F.col("_rb")
    if direction in ("forward", "nearest"):
        wf = (
            Window.partitionBy(*keys)
            .orderBy("_ts", F.col("_side").desc(), F.col("_ord").asc_nulls_last())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        u = u.withColumn("_rf", F.first("_rv", ignorenulls=True).over(wf))
        picked = F.col("_rf")
    if direction == "nearest":
        def _us(c):
            return (
                F.unix_micros(c.cast("timestamp"))
                if rts_type.startswith("timestamp")
                else c.cast("double")
            )

        delta_b = _us(F.col("_ts")) - _us(F.col("_rb")["__rts"])
        delta_f = _us(F.col("_rf")["__rts"]) - _us(F.col("_ts"))
        picked = (
            F.when(F.col("_rf").isNull(), F.col("_rb"))
            .when(F.col("_rb").isNull(), F.col("_rf"))
            .when(delta_b <= delta_f, F.col("_rb"))
            .otherwise(F.col("_rf"))
        )
    carried = u.withColumn("_rpick", picked).filter(F.col("_side") == 1)
    out_cols = [F.col("_lrow")[c].alias(c) for c in left.columns] + [
        F.col("_rpick")[v].alias(f"{prefix}{v}") for v in right_vals
    ]
    return carried.select(*out_cols)


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   num_buckets: int = 32, sort_cols: list[str] | None = None) -> None:
    """Persist as a bucketed table: later equi-joins/aggs on ``bucket_cols``
    between tables bucketed the same way run WITHOUT a shuffle."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def join_fanout_profile(left: DataFrame, right: DataFrame,
                        key_cols: list[str]) -> DataFrame:
    """Pre-join cardinality guardrail: the EXACT output size and fanout
    profile of ``left ⋈ right`` computed WITHOUT running the join — two
    per-key count aggregates and one key-level merge, so the cost is
    |distinct keys|, not |join output|.  This is the pre-flight a
    pipeline runs before an unfamiliar join at 100 TB: join_rows =
    Σ n_left·n_right catches the accidental many-to-many explosion
    (max_fanout tells you which side), and the only-left/only-right
    counts catch silent referential breakage.  Returns ONE row:
    (n_keys_both, n_keys_left_only, n_keys_right_only, join_rows,
    max_fanout_left, max_fanout_right)."""
    lc = left.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_nl")
    )
    rc = right.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_nr")
    )
    m = lc.join(rc, key_cols, "full_outer")
    both = F.col("_nl").isNotNull() & F.col("_nr").isNotNull()
    return m.agg(
        F.sum(both.cast("bigint")).cast("bigint").alias("n_keys_both"),
        F.sum(F.col("_nr").isNull().cast("bigint")).cast("bigint").alias(
            "n_keys_left_only"
        ),
        F.sum(F.col("_nl").isNull().cast("bigint")).cast("bigint").alias(
            "n_keys_right_only"
        ),
        F.sum(
            F.when(both, F.col("_nl") * F.col("_nr")).otherwise(F.lit(0))
        ).cast("bigint").alias("join_rows"),
        F.max(F.when(both, F.col("_nl"))).cast("bigint").alias(
            "max_fanout_left"
        ),
        F.max(F.when(both, F.col("_nr"))).cast("bigint").alias(
            "max_fanout_right"
        ),
    )
