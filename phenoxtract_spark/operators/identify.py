"""Projection / column-identification operators (SURVEY §2.2 P2-P5).

P2/P3's metadata predicate DSL filters *schema*, not rows — driver-side
Python over descriptors.  P5 (drop all-null columns) is the one distributed
operator here: a single aggregation pass computes every column's non-null
count, then one ``select`` drops the empties.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..descriptors import (
    ContextKind,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
)


@dataclass
class ColumnFilter:
    """P2/P3 (~ extract/series_context_filter.rs:38-320, column_filter.rs):
    builder-style AND-of-predicates over (column, SeriesContext, dtype).
    Each ``where_*`` accepts a value (Is), ``not_=`` (IsNot), or the
    sentinels ``SOME``/``NONE`` for presence checks."""

    SOME = object()
    NONE = object()

    predicates: list[Callable[[str, Optional[SeriesContext], str], bool]] = field(
        default_factory=list
    )

    def _add(self, fn) -> "ColumnFilter":
        self.predicates.append(fn)
        return self

    def where_data_kind(self, kind: ContextKind, not_: bool = False) -> "ColumnFilter":
        return self._add(
            lambda c, sc, dt: (sc is not None and sc.data_context.kind == kind) != not_
        )

    def where_header_kind(self, kind, not_: bool = False) -> "ColumnFilter":
        def f(c, sc, dt):
            if kind is ColumnFilter.SOME:
                hit = sc is not None and sc.header_context is not None
            elif kind is ColumnFilter.NONE:
                hit = sc is None or sc.header_context is None
            else:
                hit = sc is not None and sc.header_context is not None and sc.header_context.kind == kind
            return hit != not_
        return self._add(f)

    def where_building_block(self, block, not_: bool = False) -> "ColumnFilter":
        def f(c, sc, dt):
            if block is ColumnFilter.SOME:
                hit = sc is not None and sc.building_block_id is not None
            elif block is ColumnFilter.NONE:
                hit = sc is None or sc.building_block_id is None
            else:
                hit = sc is not None and sc.building_block_id == block
            return hit != not_
        return self._add(f)

    def where_identifier(self, ident: Identifier, not_: bool = False) -> "ColumnFilter":
        return self._add(lambda c, sc, dt: ident.matches(c) != not_)

    def where_data_type(self, dtype: str, not_: bool = False) -> "ColumnFilter":
        return self._add(lambda c, sc, dt: (dt == dtype) != not_)

    def where_fill_missing(self, sentinel, not_: bool = False) -> "ColumnFilter":
        def f(c, sc, dt):
            if sentinel is ColumnFilter.SOME:
                hit = sc is not None and sc.fill_missing is not None
            elif sentinel is ColumnFilter.NONE:
                hit = sc is None or sc.fill_missing is None
            else:
                hit = sc is not None and sc.fill_missing == sentinel
            return hit != not_
        return self._add(f)

    def collect(self, cdf: ContextualizedDataFrame) -> list[str]:
        """Matching columns in table order (P2 collect ~ :241-320)."""
        resolved = cdf.resolved()
        dtypes = dict(cdf.df.dtypes)
        out = []
        for c in cdf.df.columns:
            sc = resolved.get(c)
            if all(p(c, sc, dtypes[c]) for p in self.predicates):
                out.append(c)
        return out


def drop_all_null_columns(df: DataFrame, candidates: list[str] | None = None) -> DataFrame:
    """P5 (~ contextualized_data_frame.rs:773-798): drop columns whose
    non-null count is zero — ONE aggregation over all candidates."""
    candidates = candidates or df.columns
    counts = df.agg(*[F.count(F.col(c)).alias(c) for c in candidates]).collect()[0].asDict()
    dead = [c for c, n in counts.items() if n == 0]
    return df.drop(*dead) if dead else df
