"""Whole-table rewrite strategies (SURVEY §2.4), composed into the pipeline.

Each strategy follows the reference's trait shape
(transform/strategies/traits.rs:16-30): ``is_valid`` gates the pass at
plan-build time from descriptors alone (M7 — no data scan), ``apply``
rewrites the CDF set.  All rewrites stay declarative: broadcast joins +
column expressions, so each table's strategy chain composes into ONE lazy
Catalyst plan over its preprocess plan; ``Pipeline.transform``
materializes that plan once, after the last strategy.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..descriptors import (
    Context,
    ContextKind,
    ContextualizedDataFrame,
    TimeElementType,
)
from ..functions import durations
from ..functions.text import extract_hpo_ids
from ..operators import grouping, mapping, pivoting


class Strategy:
    """Base trait (~ strategies/traits.rs:16-30)."""

    def is_valid(self, cdfs: Sequence[ContextualizedDataFrame]) -> bool:
        raise NotImplementedError

    def apply(self, cdfs: list[ContextualizedDataFrame]) -> list[ContextualizedDataFrame]:
        raise NotImplementedError

    def _columns(self, cdf: ContextualizedDataFrame, kind: ContextKind) -> list[str]:
        return cdf.columns_with_kind(kind)


@dataclass
class AliasMapStrategy(Strategy):
    """M1 (~ alias_map.rs:70-134): per-column substitution from each
    SeriesContext's ``alias_map``."""

    def is_valid(self, cdfs):
        return any(
            sc.alias_map for cdf in cdfs for sc in cdf.context.series_contexts
        )

    def apply(self, cdfs):
        out = []
        for cdf in cdfs:
            df = cdf.df
            resolved = cdf.resolved()
            for col, sc in resolved.items():
                if sc.alias_map:
                    df = mapping.apply_alias_map(df, col, sc.alias_map)
            out.append(cdf.with_df(df))
        return out


@dataclass
class MappingStrategy(Strategy):
    """M2 (~ mapping.rs:181-278): synonym-dict rewrite of all columns with a
    given context kind (sex, vital status, ...)."""

    spark: SparkSession
    kind: ContextKind
    dictionary: dict
    strict: bool = True
    ledger: object = None  # errors.ErrorLedger → defer strict checks

    def is_valid(self, cdfs):
        return any(self._columns(cdf, self.kind) for cdf in cdfs)

    def apply(self, cdfs):
        dim = mapping.mapping_dim(self.spark, self.dictionary)
        out = []
        for cdf in cdfs:
            df = cdf.df
            for col in self._columns(cdf, self.kind):
                df = mapping.apply_synonym_mapping(
                    df, col, dim, strict=self.strict, ledger=self.ledger
                )
            out.append(cdf.with_df(df))
        return out


@dataclass
class OntologyNormaliserStrategy(Strategy):
    """M3 (~ ontology_normaliser.rs:75-141): label/synonym → CURIE for all
    columns of the given kinds, against a bidict dimension DF (key, id)."""

    ontology_dim: DataFrame
    kinds: tuple[ContextKind, ...] = (ContextKind.HPO, ContextKind.DISEASE)
    strict: bool = True
    ledger: object = None  # errors.ErrorLedger → defer strict checks

    def is_valid(self, cdfs):
        return any(self._columns(cdf, k) for cdf in cdfs for k in self.kinds) or any(
            self._header_cols(cdf) for cdf in cdfs
        )

    def _header_cols(self, cdf):
        """Columns whose HEADER carries an ontology term of our kinds and is
        not already a CURIE (~ ontology_normaliser.rs:75-141 renames them)."""
        import re

        return [
            c
            for c, sc in cdf.resolved().items()
            if sc.header_context is not None
            and sc.header_context.kind in self.kinds
            and not re.match(r"^[A-Za-z]+:\d+(#.*)?$", c)
        ]

    def apply(self, cdfs):
        out = []
        for cdf in cdfs:
            df = cdf.df
            for k in self.kinds:
                for col in self._columns(cdf, k):
                    df = mapping.normalize_to_ontology(
                        df, col, self.ontology_dim, strict=self.strict,
                        ledger=self.ledger,
                    )
            # header normalization: 'Rhinorrhea' column → 'HP:0031417'
            # (driver-side lookup bounded by the table's column count; the
            # dim is dimension-sized by contract)
            hdr_cols = self._header_cols(cdf)
            ctx = cdf.context
            if hdr_cols:
                from ..descriptors import Identifier, TableContext
                from dataclasses import replace as _replace

                bases = {c: c.split("#", 1) for c in hdr_cols}
                keys = [parts[0].strip().lower() for parts in bases.values()]
                hits = {
                    r["key"]: r["id"]
                    for r in self.ontology_dim.filter(
                        F.col("key").isin(keys)
                    ).select("key", "id").collect()
                }
                renames = {}
                for c, parts in bases.items():
                    base_key = parts[0].strip().lower()
                    if base_key in hits:
                        new = hits[base_key] + (f"#{parts[1]}" if len(parts) > 1 else "")
                        renames[c] = new
                    elif self.strict:
                        raise mapping.UnmappedValueError(c, [(parts[0], [])])
                if renames:
                    for old, new in renames.items():
                        df = df.withColumnRenamed(old, new)
                    new_scs = []
                    for sc in ctx.series_contexts:
                        all_matches = sc.identifier.resolve(cdf.df.columns)
                        if any(c in renames for c in all_matches):
                            # re-point the identifier at the renamed column(s),
                            # keeping any matches that were not renamed
                            new_scs.append(
                                _replace(
                                    sc,
                                    identifier=Identifier.of(
                                        [renames.get(c, c) for c in all_matches]
                                    ),
                                )
                            )
                        else:
                            new_scs.append(sc)
                    ctx = TableContext(name=ctx.name, series_contexts=new_scs)
            out.append(ContextualizedDataFrame(df=df, context=ctx))
        return out


@dataclass
class AgeToIso8601Strategy(Strategy):
    """C13 (~ age_to_iso8601.rs:69-158): integer-age columns (Age-typed time
    contexts) → ISO 'PnY' strings."""

    AGE_KINDS = (
        ContextKind.TIME_AT_LAST_ENCOUNTER,
        ContextKind.ONSET,
        ContextKind.TIME_OF_DEATH,
        ContextKind.TIME_OF_RESOLUTION,
        ContextKind.TIME_OF_MEASUREMENT,
    )

    def _age_cols(self, cdf):
        return [
            c
            for c, sc in cdf.resolved().items()
            if sc.data_context.kind in self.AGE_KINDS
            and sc.data_context.time_type == TimeElementType.AGE
        ]

    def is_valid(self, cdfs):
        return any(self._age_cols(cdf) for cdf in cdfs)

    def apply(self, cdfs):
        out = []
        for cdf in cdfs:
            df = cdf.df
            for col in self._age_cols(cdf):
                df = df.withColumn(col, durations.age_years_to_iso(F.col(col)))
            out.append(cdf.with_df(df))
        return out


@dataclass
class DateToAgeStrategy(Strategy):
    """M4 (~ date_to_age.rs:65-271): build the patient→DOB dimension from
    date-of-birth columns across ALL tables (G3 single-multiplicity),
    broadcast-join it into every table carrying Date-typed time columns,
    convert via C14, and retag contexts Date→Age (P7).

    Scale shape: the DOB map is one `groupBy(subject)` over narrow unions —
    a dimension by construction (≤1 row per patient) — broadcast to every
    fact table; no per-patient driver loops.
    """

    strict: bool = True

    DATE_KINDS = AgeToIso8601Strategy.AGE_KINDS

    def _date_cols(self, cdf):
        return [
            c
            for c, sc in cdf.resolved().items()
            if sc.data_context.kind in self.DATE_KINDS
            and sc.data_context.time_type == TimeElementType.DATE
        ]

    def is_valid(self, cdfs):
        has_dob = any(self._columns(cdf, ContextKind.DATE_OF_BIRTH) for cdf in cdfs)
        has_dates = any(self._date_cols(cdf) for cdf in cdfs)
        return has_dob and has_dates

    def dob_map(self, cdfs) -> DataFrame:
        """(subject_id, dob) with per-patient uniqueness enforced
        (~ date_to_age.rs:222-271): a subject with conflicting DOBs raises
        MultiplicityError when ``strict``, else gets a null DOB (no age)."""
        frames = []
        for cdf in cdfs:
            subj = cdf.subject_col
            for col in self._columns(cdf, ContextKind.DATE_OF_BIRTH):
                frames.append((cdf.df, subj, col))
        dob = grouping.single_valued(frames, alias="dob", strict=self.strict)
        # collision-proof internal names: user tables may legitimately have
        # columns called 'subject_id' or 'dob'
        return dob.select(
            F.col("subject_id").alias("__pxs_sid"),
            F.col("dob").cast("date").alias("__pxs_dob"),
        )

    def apply(self, cdfs):
        dob = F.broadcast(self.dob_map(cdfs))
        out = []
        for cdf in cdfs:
            cols = self._date_cols(cdf)
            if not cols:
                out.append(cdf)
                continue
            subj = cdf.subject_col
            df = cdf.df.join(
                dob, F.col(subj).cast("string") == dob["__pxs_sid"], "left"
            ).drop("__pxs_sid")
            for col in cols:
                from ..functions.casting import parse_date_multi

                as_date = (
                    F.col(col)
                    if dict(cdf.df.dtypes)[col] == "date"
                    else parse_date_multi(F.col(col).cast("string"))
                )
                df = durations.with_date_diff_iso(
                    df, F.col("__pxs_dob"), as_date, out=col
                )
            df = df.drop("__pxs_dob")
            # P7 retag: Date → Age on the converted columns
            new_scs = []
            for sc in cdf.context.series_contexts:
                if (
                    sc.data_context.kind in self.DATE_KINDS
                    and sc.data_context.time_type == TimeElementType.DATE
                ):
                    new_scs.append(
                        replace(
                            sc,
                            data_context=replace(
                                sc.data_context, time_type=TimeElementType.AGE
                            ),
                        )
                    )
                else:
                    new_scs.append(sc)
            ctx = type(cdf.context)(name=cdf.context.name, series_contexts=new_scs)
            out.append(ContextualizedDataFrame(df=df, context=ctx))
        return out


@dataclass
class HpoDiseaseSplitterStrategy(Strategy):
    """M5 (~ hpo_disease_splitter.rs:66-150): split HpoOrDisease columns into
    an HPO column and a disease column by dictionary membership."""

    hpo_dim: DataFrame
    disease_dim: DataFrame

    def is_valid(self, cdfs):
        return any(self._columns(cdf, ContextKind.HPO_OR_DISEASE) for cdf in cdfs)

    def apply(self, cdfs):
        out = []
        for cdf in cdfs:
            cols = self._columns(cdf, ContextKind.HPO_OR_DISEASE)
            if not cols:
                out.append(cdf)
                continue
            df = cdf.df
            new_scs = list(cdf.context.series_contexts)
            from ..descriptors import Identifier, SeriesContext

            for col in cols:
                sc = cdf.resolved()[col]
                df = mapping.split_by_membership(
                    df, col, self.hpo_dim, self.disease_dim,
                    f"{col}_hpo", f"{col}_disease",
                )
                df = df.drop(col)
                new_scs = [s for s in new_scs if not s.identifier.matches(col)]
                new_scs.append(
                    SeriesContext(
                        identifier=Identifier.of(f"{col}_hpo"),
                        data_context=Context(ContextKind.HPO),
                        building_block_id=sc.building_block_id,
                    )
                )
                new_scs.append(
                    SeriesContext(
                        identifier=Identifier.of(f"{col}_disease"),
                        data_context=Context(ContextKind.DISEASE),
                        building_block_id=sc.building_block_id,
                    )
                )
            ctx = type(cdf.context)(name=cdf.context.name, series_contexts=new_scs)
            out.append(ContextualizedDataFrame(df=df, context=ctx))
        return out


@dataclass
class MultiHpoColExpansionStrategy(Strategy):
    """M6 (~ multi_hpo_col_expansion.rs:48-230): regex-extract HPO ids from
    free-text MultiHpoId cells, pivot into per-id boolean columns
    (header 'HP:x' or 'HP:x#block'), drop the source column."""

    max_width: int = 10_000

    def is_valid(self, cdfs):
        return any(self._columns(cdf, ContextKind.MULTI_HPO_ID) for cdf in cdfs)

    def apply(self, cdfs):
        from ..descriptors import Identifier, SeriesContext

        out = []
        for cdf in cdfs:
            cols = self._columns(cdf, ContextKind.MULTI_HPO_ID)
            if not cols:
                out.append(cdf)
                continue
            df = cdf.df
            subj = cdf.subject_col
            new_scs = list(cdf.context.series_contexts)
            for col in cols:
                sc = cdf.resolved()[col]
                long = pivoting.explode_multi_ids(df, subj, col, extract_hpo_ids)
                # column order = global first occurrence (row-major, like the
                # reference's insertion-ordered header map); row component =
                # ingest rownum when captured, else the subject key
                from ..sources.readers import INGEST_ROWNUM

                row_ord = (
                    F.col(INGEST_ROWNUM).cast("string")
                    if INGEST_ROWNUM in df.columns
                    else F.col(subj).cast("string")
                )
                occurrences = df.select(
                    F.lpad(row_ord, 12, "0").alias("_ro"),
                    F.posexplode(extract_hpo_ids(F.col(col))).alias("_p", "_id"),
                ).filter(F.col("_id").isNotNull())
                key_order = [
                    r["_id"]
                    for r in occurrences.groupBy("_id")
                    .agg(F.min(F.struct("_ro", "_p")).alias("_o"))
                    .orderBy("_o")
                    .limit(self.max_width + 1)
                    .collect()
                ]
                if not key_order:
                    # no ids anywhere in the column (e.g. all-null input):
                    # drop the source column and its context — appending the
                    # regex context would dangle (V3) with zero pivot columns
                    df = df.drop(col)
                    new_scs = [s for s in new_scs if not s.identifier.matches(col)]
                    continue
                wide = pivoting.pivot_flags(
                    long, max_width=self.max_width, block_id=sc.building_block_id,
                    key_order=key_order,
                ).withColumnRenamed("subject_id", "__pxs_sid")
                df = df.drop(col).join(
                    wide, F.col(subj).cast("string") == wide["__pxs_sid"], "left"
                ).drop("__pxs_sid")
                new_scs = [s for s in new_scs if not s.identifier.matches(col)]
                suffix = f"#{sc.building_block_id}" if sc.building_block_id else ""
                new_scs.append(
                    SeriesContext(
                        identifier=Identifier.rx(rf"^HP:\d{{7}}{suffix}$"),
                        data_context=Context(ContextKind.OBSERVATION_STATUS),
                        header_context=Context(ContextKind.HPO),
                        building_block_id=sc.building_block_id,
                    )
                )
            ctx = type(cdf.context)(name=cdf.context.name, series_contexts=new_scs)
            out.append(ContextualizedDataFrame(df=df, context=ctx))
        return out


# ---------------------------------------------------------------------------
# M8 strategy factory (~ strategy_factory.rs:40-73)
# ---------------------------------------------------------------------------

STRATEGY_KINDS = {
    "alias_map": AliasMapStrategy,
    "mapping": MappingStrategy,
    "ontology_normaliser": OntologyNormaliserStrategy,
    "age_to_iso8601": AgeToIso8601Strategy,
    "date_to_age": DateToAgeStrategy,
    "hpo_disease_splitter": HpoDiseaseSplitterStrategy,
    "multi_hpo_col_expansion": MultiHpoColExpansionStrategy,
}


def build_strategy(strategy: str, **kwargs) -> Strategy:
    # first param deliberately not named "kind": MappingStrategy's own
    # ``kind`` (a ContextKind) arrives via kwargs from the config compiler
    if strategy not in STRATEGY_KINDS:
        raise ValueError(
            f"unknown strategy kind {strategy!r}; known: {sorted(STRATEGY_KINDS)}"
        )
    return STRATEGY_KINDS[strategy](**kwargs)
