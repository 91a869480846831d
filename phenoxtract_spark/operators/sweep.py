"""Distributed prefix-scan: the two-phase decomposition of a GLOBAL
running sum.

A textbook ``sum(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` plans
as ONE window task holding every row — the single-reducer shape that
cannot survive a 100 TB table.  The classic fix (the same grid trick
``curation.pareto_frontier_2d`` uses for its running min) decomposes the
scan into three bounded pieces:

1. rows carry a precomputed integer ``bucket`` that is MONOTONE in the
   global sort order (a hash prefix for hash order, a value range for
   value order) — the caller guarantees monotonicity;
2. per-bucket totals aggregate map-side into an ``n_buckets``-row dim;
   the ACROSS-bucket exclusive prefix runs as a window over that tiny
   relation (single task over ``n_buckets`` rows, trivially bounded);
3. the WITHIN-bucket inclusive running sum is a window PARTITIONED by
   bucket — distributed, each task holding ~1/n_buckets of the data.

``global cum(x) = bucket offset (2) + within-bucket cum(x) (3)`` — exact
for any associative sum, including DECIMAL; no approximation anywhere.
The same shape is how Spark itself scans at scale (range partition +
per-partition scan + offset merge); expressing it in DataFrame ops keeps
Catalyst/AQE in charge of the physical plan.

Without materialization the offsets dim is a SECOND branch over the
input, and column pruning makes the two subtrees differ, so Catalyst's
exchange reuse cannot deduplicate them — the input would be scanned and
aggregated twice (measured on the rank-sum plan: 4 source scans).  The
``materialize`` mode picks the evaluation shape:

- ``"offsets"`` — for big PROJECTION inputs (a corpus with a hash
  bucket): run the per-bucket totals as their own tiny eager job and
  store the ≤ n_buckets-row offsets dim (``session.materialize``); the
  main plan is then scan → broadcast join → one bucket-keyed window.
  Two column-pruned scans total, zero recomputation.
- ``"none"`` — fully declarative; correct but with the double-branch
  cost, unless the caller passes an input it already materialized (a
  groupBy cells relation), which every branch then reads.  Values are
  identical in both modes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import session


def bucketed_prefix_sum(
    df: DataFrame,
    bucket_col: str,
    order_cols: list[str | Column],
    sums: dict[str, Column | str],
    materialize: str = "none",
    totals: list[str] | None = None,
    partition_cols: list[str] | None = None,
    offsets_from: DataFrame | None = None,
) -> DataFrame:
    """Add ``cum_<name>`` = inclusive running sum of each ``sums`` entry
    in the global order ``(bucket_col, *order_cols)``, without ever
    materialising a single-task global window over the data.

    ``order_cols`` entries may be column names or ``Column`` sort
    expressions (``F.col(v).asc()``, ``F.col(k).desc()`` — how
    ``analytics_rfm_scalable`` encodes its descending tie-break); both
    pass straight through to ``Window.orderBy``.

    ``bucket_col`` must be NON-NULL and monotone in the intended global
    order, and low-cardinality (e.g. 256 hash-prefix or value-range
    buckets); the caller owns the monotonicity contract, while the
    non-null contract is ENFORCED structurally — the offsets dim joins
    back with a LEFT join (an inner equi-join would silently drop a
    NULL-keyed row, and Catalyst pushes the inferred ``isnotnull``
    down to the scan, so no projection-level guard can fire first),
    and the ``cum_``/``total_`` expressions raise when their offset
    comes back NULL, which is possible ONLY for a NULL key (every
    non-null key exists in the dim by construction, and the dim-side
    offsets are coalesced non-null).  The dim itself is built from
    non-null keys only, so a NULL group's weight never leaks into real
    buckets' offsets or the grand totals — a caller that explicitly
    filters NULL-key rows out therefore reads correct sums over the
    rows it kept, while unfiltered NULL rows raise.  Ties in
    ``order_cols`` within a bucket must be broken
    by the caller (include a unique id) if a total order matters
    downstream.  ``totals`` names entries of ``sums`` whose GRAND total
    should ride along as a constant ``total_<name>`` column, computed
    from the n_buckets-row offsets dim — which is only free of a second
    data pass under ``materialize="offsets"`` (checkpointed dim) or
    when the input is already materialized; with ``materialize="none"``
    on a raw scan the gt branch re-aggregates the input.
    ``materialize`` (``"none"`` or ``"offsets"``) picks the evaluation
    shape — see the module docstring; values are identical in both.

    ``offsets_from`` (r12, guide §2.4): build the per-bucket totals dim
    from this relation instead of ``df``.  For a ``df`` that is itself a
    lazy chain (e.g. the RFM passes, where pass i+1's input carries pass
    i's window), the offsets branch would otherwise replay the whole
    chain during the dim's eager job — when an EQUIVALENT cheaper branch
    exists (the same rows off an upstream checkpoint), inject it here.
    Caller contract: ``offsets_from`` must contain ``bucket_col`` (and
    ``partition_cols``) and every ``sums`` expression must evaluate to
    the same per-bucket totals over it as over ``df`` — identical rows,
    typically a narrower projection of the same materialized relation.
    The NULL-key guard is unchanged (the dim keeps non-null keys only;
    ``df``-side NULL-key rows still miss the left join and raise).

    ``partition_cols`` makes the whole scan PER-GROUP: every running
    sum restarts at zero inside each distinct ``partition_cols`` tuple
    (and ``totals`` become per-group grand totals).  The offsets dim
    grows to ``n_groups × n_buckets`` rows and its across-bucket window
    partitions by group — each window task holds ≤ n_buckets rows, so
    the bounded-single-task property is preserved for any group count;
    keep ``n_groups × n_buckets`` broadcast-sized (≲ low millions),
    which every segment-dimension caller satisfies by construction.
    Partition columns must be NON-NULL for the same reason the bucket
    must be (a NULL group would drop out of the offsets equi-join);
    the same runtime guard enforces both.
    """
    if materialize not in ("none", "offsets"):
        raise ValueError(f"unknown materialize mode: {materialize!r}")
    # fail fast on generated-name collisions (same discipline as the
    # materialize-mode check): an input that already carries e.g. a
    # ``cum_w`` or ``total_w`` column would otherwise be silently
    # overwritten by withColumn/crossJoin instead of rejected.
    generated = (
        [f"_v_{n}" for n in sums]
        + [f"_bt_{n}" for n in sums]
        + [f"_off_{n}" for n in sums]
        + [f"cum_{n}" for n in sums]
        + [f"total_{n}" for n in (totals or [])]
        + (["_gtm"] if (totals and partition_cols) else [])
    )
    clashes = sorted(set(generated) & set(df.columns))
    if clashes:
        raise ValueError(
            f"bucketed_prefix_sum: input columns collide with generated "
            f"names {clashes}; rename them first"
        )

    # NULL-key enforcement is STRUCTURAL (see the left-join comment
    # below): guard expressions placed in the pre-join projection are
    # useless here — the join-inferred isnotnull(key) pushes below any
    # deterministic projection and prunes the row before the guard
    # evaluates (measured: the r10 when(isNull, raise) phrasing was
    # silently bypassed the moment the key doubled as a window
    # partition column, and only survived for the bucket because a
    # filter cannot cross an UNPARTITIONED window's ordering column —
    # an optimizer accident, not a contract).
    parts = list(partition_cols or [])
    guard_msg = (
        f"bucketed_prefix_sum: NULL {bucket_col}"
        + (f"/{'/'.join(parts)}" if parts else "")
        + " key would drop rows"
    )

    def _raise():
        return F.raise_error(F.lit(guard_msg))

    vals = {
        name: (F.col(c) if isinstance(c, str) else c).alias(f"_v_{name}")
        for name, c in sums.items()
    }
    d = df.select("*", *vals.values())

    # the DIM side is built from NON-NULL keys only: a NULL-key group in
    # per_bucket can never match the equi-join back (NULL != NULL), but
    # it would sort NULLS FIRST in the across-bucket window and fold its
    # weight into every real bucket's offset — and into the grand totals
    # — so a consumer that explicitly filters the NULL rows out would
    # read silently inflated cum_/total_ values (the r12 review's live
    # repro).  Filtered out here, such a consumer reads CORRECT sums
    # over the rows it kept, while an unfiltered NULL-key row still
    # misses the left join and raises through the _off guard below.
    key_ok = F.col(bucket_col).isNotNull()
    for p in parts:
        key_ok = key_ok & F.col(p).isNotNull()
    if offsets_from is not None:
        dim_src = offsets_from.select(
            *parts, bucket_col,
            *[
                (F.col(c) if isinstance(c, str) else c).alias(f"_v_{name}")
                for name, c in sums.items()
            ],
        )
    else:
        dim_src = d
    per_bucket = dim_src.filter(key_ok).groupBy(*parts, bucket_col).agg(
        *[F.sum(f"_v_{n}").alias(f"_bt_{n}") for n in sums]
    )
    # the across-bucket window runs on the TINY relation only: globally
    # ≤ n_buckets rows, or per-group ≤ n_buckets rows when partitioned
    wdim = (
        Window.partitionBy(*parts) if parts else Window
    ).orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        *parts,
        bucket_col,
        *[f"_bt_{n}" for n in sums],
        *[
            F.coalesce(F.sum(f"_bt_{n}").over(wdim), F.lit(0)).alias(f"_off_{n}")
            for n in sums
        ],
    )
    if materialize == "offsets":
        offsets = session.materialize(offsets)  # <= n_groups*n_buckets rows, eager

    win = (
        Window.partitionBy(*parts, bucket_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # LEFT join, deliberately: an INNER equi-join would silently drop a
    # NULL-keyed row, and Catalyst pushes the inferred isnotnull(key)
    # through the window/aggregate/projection stack to the scan, so no
    # guard expression BELOW the join can ever see the row.  The left
    # join keeps every input row; a NULL _off_<n> after it is possible
    # only for a NULL key (dim-side offsets are coalesce()d non-null and
    # every non-null key exists in the dim by construction) — so the
    # cum_ expressions raise exactly on the rows an inner join would
    # have lost, and nothing is null-rejecting for the optimizer to
    # convert the join back to inner.
    out = d.join(F.broadcast(offsets), [*parts, bucket_col], "left")
    for n in sums:
        out = out.withColumn(
            f"cum_{n}",
            F.when(F.col(f"_off_{n}").isNull(), _raise()).otherwise(
                F.col(f"_off_{n}") + F.sum(f"_v_{n}").over(win)
            ),
        )
    if totals:
        if parts:
            # same left-join + marker-guard discipline; total_<n> itself
            # can be legitimately NULL (a group whose weights are all
            # NULL), so the guard keys on a literal marker instead
            gt = offsets.groupBy(*parts).agg(
                *[F.sum(f"_bt_{n}").alias(f"total_{n}") for n in totals],
                F.max(F.lit(1)).alias("_gtm"),
            )
            out = out.join(F.broadcast(gt), parts, "left")
            # guard on the group-key marker AND the row's own bucket
            # offset: _gtm catches a NULL group key (gt join miss),
            # _off_<n> catches a NULL bucket under non-null group keys
            # — so a caller that consumes ONLY total_<n> and never
            # evaluates a cum_ column still raises instead of silently
            # folding the NULL-key row's weight into the total
            for n in totals:
                out = out.withColumn(
                    f"total_{n}",
                    F.when(
                        F.col("_gtm").isNull() | F.col(f"_off_{n}").isNull(),
                        _raise(),
                    ).otherwise(F.col(f"total_{n}")),
                )
            out = out.drop("_gtm")
        else:
            gt = offsets.agg(
                *[F.sum(f"_bt_{n}").alias(f"total_{n}") for n in totals]
            )
            out = out.crossJoin(F.broadcast(gt))
            # same marker-guard discipline as the partitioned branch: the
            # crossJoin always matches, so the only NULL-key witness on a
            # totals-only consumer is the row's own _off_<n> (NULL iff the
            # left join missed, iff the bucket key was NULL); total_<n>
            # itself can be legitimately NULL (all-NULL weights), so the
            # guard keys on the offset, never the total
            for n in totals:
                out = out.withColumn(
                    f"total_{n}",
                    F.when(F.col(f"_off_{n}").isNull(), _raise()).otherwise(
                        F.col(f"total_{n}")
                    ),
                )
    return out.drop(
        *[f"_v_{n}" for n in sums],
        *[f"_off_{n}" for n in sums],
        *[f"_bt_{n}" for n in sums],
    )


def collect_value_range_stats(
    df: DataFrame,
    value_cols: list[str],
    extra_stats: dict[str, Column] | None = None,
) -> tuple[dict, dict]:
    """ONE eager stats job for SEVERAL value columns (r12, guide §2.4):
    min/max per column plus any ``extra_stats``, returned as the
    ``precomputed_stats`` input of :func:`value_range_buckets` — a
    multi-pass caller (e.g. the three RFM quartile passes) collects all
    its grid bounds in one dimension-sized job instead of one per pass.
    Returns (row dict, result-type dict); per-column keys are
    ``_lo_<col>``/``_hi_<col>``."""
    aggs = []
    for c in value_cols:
        aggs.append(F.min(c).alias(f"_lo_{c}"))
        aggs.append(F.max(c).alias(f"_hi_{c}"))
    for nm, col in (extra_stats or {}).items():
        aggs.append(col.alias(nm))
    stats_df = df.agg(*aggs)
    types = {f.name: f.dataType for f in stats_df.schema.fields}
    row = stats_df.collect()[0].asDict()
    return row, types


def value_range_buckets(
    df: DataFrame,
    value_col: str,
    bits: int = 8,
    partition_cols: list[str] | None = None,
    extra_stats: dict[str, Column] | None = None,
    precomputed_stats: tuple[dict, dict] | None = None,
) -> DataFrame:
    """Attach the monotone value-range bucket ``bk`` the prefix scan
    needs when the global order is BY VALUE: a 1-row min/max aggregate
    broadcasts onto the relation and ``bk = ((v - lo) << bits-ish) DIV
    (hi - lo + 1)`` grids the domain into ``2^bits`` ranges — exact
    integer arithmetic, monotone in ``value_col`` by construction.
    ``value_col`` must be INTEGRAL (or scale-0 DECIMAL): the arithmetic
    routes through CAST(... AS DECIMAL(38,0)), which would silently
    ROUND a fractional column — still monotone, but coarse, skewed
    buckets with no warning — so non-integral types are rejected
    outright (scale fractional domains to integer units first, the way
    every current caller scales money to cents).  The
    stats pass is one map-side-combined aggregate; call this on a
    MATERIALIZED relation (the checkpointed-cells discipline) so the
    stats branch reads the checkpoint rather than rescanning the
    source.  Shared by the rank-sum, Kruskal-Wallis, quantile, and
    Gini queries.

    ``partition_cols`` grids each group against ITS OWN min/max (the
    stats pass becomes a per-group aggregate joined back on the group
    key — n_groups rows, still broadcast) so ``bk`` is monotone in
    ``value_col`` WITHIN each group; pair with the same
    ``partition_cols`` on ``bucketed_prefix_sum`` for per-group scans.
    Group keys must be non-null; the join-back is a LEFT join so a
    NULL-keyed row is KEPT with NULL ``_lo``/``_hi`` and therefore a
    NULL ``bk`` (an inner join would silently drop it before any guard
    could see it), which the downstream prefix-sum NULL-key guard then
    raises on.

    ``extra_stats`` (r12) rides additional aggregates — typically the
    grand total ``F.sum(weight)`` a rank expression needs — on the SAME
    stats pass, landing them as constant (per-group when partitioned)
    columns on the output.  This replaces ``bucketed_prefix_sum``'s
    ``totals`` branch for callers that would otherwise re-aggregate the
    input just to rebuild the grand total (the ``materialize="none"``
    double-branch cost): one fewer aggregation pass, one fewer
    broadcast, smaller plan.  Contract difference vs ``totals``: these
    aggregates run over ALL input rows (``totals`` sums the non-null-key
    offsets dim), and the NULL-key runtime guard only fires when a
    ``cum_`` column is consumed downstream — identical for every caller
    that feeds a rank-containment filter (they all evaluate ``cum_``),
    and identical everywhere the value/group keys are non-null by
    construction.

    ``precomputed_stats`` (r12): the (row, types) pair from
    :func:`collect_value_range_stats` — skips this call's own stats
    job in the ungrouped path.  Caller contract: the stats were
    collected over the SAME rows of ``value_col`` (per-column keys
    ``_lo_<col>``/``_hi_<col>``), so ``bk`` is unchanged; ungrouped
    only (grouped callers keep their per-group dim)."""
    extra_stats = extra_stats or {}
    clashes = sorted(
        ({"bk", "_lo", "_hi"} | set(extra_stats)) & set(df.columns)
    )
    if clashes:
        raise ValueError(
            f"value_range_buckets: input columns collide with generated "
            f"names {clashes}; rename them first"
        )
    from pyspark.sql.types import (
        ByteType, DecimalType, IntegerType, LongType, ShortType,
    )

    vt = df.schema[value_col].dataType
    integral = isinstance(vt, (ByteType, ShortType, IntegerType, LongType)) or (
        isinstance(vt, DecimalType) and vt.scale == 0
    )
    if not integral:
        raise ValueError(
            f"value_range_buckets: {value_col} is {vt.simpleString()}; the "
            f"DECIMAL(38,0) bucketing arithmetic would silently round a "
            f"fractional value — scale to integer units (e.g. cents) first"
        )
    parts = list(partition_cols or [])
    stat_aggs = [
        F.min(value_col).alias("_lo"),
        F.max(value_col).alias("_hi"),
        *[c.alias(nm) for nm, c in extra_stats.items()],
    ]
    n = 1 << bits
    if not parts:
        # r12 (guide §2.4 — remove shuffles outright): the ungrouped
        # stats relation is ONE row, i.e. dimension-sized in the same
        # sense as the ANN centroid collects.  Collect it eagerly and
        # inline lo/hi (and the extra_stats) as typed LITERALS instead
        # of crossJoin(broadcast(stats)): the lazy-broadcast phrasing
        # planned the stats aggregate TWICE (the offsets branch's copy
        # differs from the main branch's by a pushed filter, defeating
        # ReuseExchange) and cost two BroadcastNestedLoopJoins + two
        # broadcast-build jobs per caller (measured on
        # profiling_quantiles_distributed: 4 scans of the checkpointed
        # cells → 2, 13 jobs → 6).  The collect reads the materialized
        # input (the docstring contract above), so no subplan re-runs;
        # the arithmetic and output types are unchanged (literals are
        # cast to the exact aggregate result types), so values are
        # bit-identical.  NULL value rows still get a NULL ``bk`` and
        # raise through the downstream prefix-sum guard exactly as the
        # join phrasing did.
        if precomputed_stats is not None:
            pre_row, pre_types = precomputed_stats
            row = dict(pre_row)
            row["_lo"] = row.pop(f"_lo_{value_col}")
            row["_hi"] = row.pop(f"_hi_{value_col}")
            stat_types = dict(pre_types)
            stat_types["_lo"] = stat_types.pop(f"_lo_{value_col}")
            stat_types["_hi"] = stat_types.pop(f"_hi_{value_col}")
        else:
            stats_df = df.agg(*stat_aggs)
            stat_types = {f.name: f.dataType for f in stats_df.schema.fields}
            row = stats_df.collect()[0].asDict()
        lo, hi = row["_lo"], row["_hi"]
        d38 = "DECIMAL(38,0)"
        if lo is None or hi is None:  # empty input: NULL bk, zero rows
            bk = F.lit(None).cast("bigint")
        else:
            bk = F.expr(
                f"((CAST({value_col} AS {d38}) - CAST({lo} AS {d38})) * {n})"
                f" DIV (CAST({hi} AS {d38}) - CAST({lo} AS {d38}) + 1)"
            )
        out = df.withColumn("bk", bk)
        for nm in extra_stats:
            out = out.withColumn(
                nm, F.lit(row[nm]).cast(stat_types[nm])
            )
        return out
    # r12: same duplication fix as the ungrouped literal path above, in
    # dim form — without materialization the per-group stats aggregate
    # plans TWICE (the offsets branch's copy carries different pushed
    # filters than the main branch's, so ReuseExchange cannot
    # deduplicate them; measured on profiling_quantiles_grouped: 4 scans
    # of the checkpointed cells, two stats subtrees).  The dim is
    # ``n_groups`` rows (broadcast-sized by the caller contract), so the
    # eager checkpoint is a tiny job and both branches then scan the
    # materialized dim.  Join semantics (LEFT, NULL-group kept with NULL
    # bk) are unchanged.
    stats = session.materialize(df.groupBy(*parts).agg(*stat_aggs))
    # Overflow-safe: ``(v - lo) * 2^bits`` in raw BIGINT wraps silently
    # in non-ANSI Spark once the column's range exceeds ~2^63/2^bits
    # (~3.6e16 at bits=8), producing non-monotone buckets and silently
    # wrong prefix sums — this operator's failure mode must be an error
    # or nothing, never wrong values (same discipline as the NULL-bucket
    # guard).  Routing the subtraction and multiply through
    # DECIMAL(38,0) gives exact integer arithmetic across the full
    # BIGINT domain; the quotient is < 2^bits and DIV returns BIGINT,
    # so ``bk``'s type is unchanged for callers.
    d38 = "DECIMAL(38,0)"
    # LEFT join for the same structural reason as bucketed_prefix_sum's
    # offsets join: an inner equi-join on the group key would silently
    # drop a NULL-keyed row (and its pushed-down isnotnull would prune
    # it at the scan, ahead of any guard).  Left-joined, the NULL-group
    # row survives with NULL _lo/_hi -> NULL bk, and the downstream
    # prefix-sum guard raises instead of losing the row.
    joined = df.join(F.broadcast(stats), parts, "left")
    return (
        joined
        .withColumn(
            "bk",
            F.expr(
                f"((CAST({value_col} AS {d38}) - CAST(_lo AS {d38})) * {n})"
                f" DIV (CAST(_hi AS {d38}) - CAST(_lo AS {d38}) + 1)"
            ),
        )
        .drop("_lo", "_hi")
    )


def rank_containment(cum: Column, weight: Column, rank: Column) -> Column:
    """The type-1 (lower) quantile selection predicate over a CDF of
    per-distinct-value cells: a cell whose inclusive cumulative weight
    first reaches ``rank`` contains the rank-th element, i.e.
    ``cum - weight < rank <= cum``.  ONE place for the rank rule — the
    quantile, median/MAD, and any future rank-selection query must share
    it so an off-by-one fix cannot silently diverge between them (their
    SQL oracles encode the same inequality verbatim)."""
    return (cum >= rank) & (cum - weight < rank)
