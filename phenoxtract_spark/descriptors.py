"""Descriptor layer: semantic annotations carried alongside a DataFrame.

Mirrors the reference's config model (cited for parity, not copied):

- ``Context``          ~ /root/reference/phenoxtract/src/config/context.rs:48-104
- ``Identifier``       ~ config/table_context.rs:204-223 (Single/Regex/Multi)
- ``SeriesContext``    ~ config/table_context.rs:283-302
- ``TableContext``     ~ config/table_context.rs:27-31
- ``ContextualizedDataFrame`` ~ extract/contextualized_data_frame.rs:29-39

Design choice (SURVEY §1.1): contexts live in a *sidecar descriptor object*,
not in StructField.metadata — identifier resolution is regex/multi matching
against column names, a config-layer concern.  The DataFrame itself stays a
plain Spark DataFrame so every operator composes with vanilla Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from enum import Enum
from typing import Optional, Union

from pyspark.sql import DataFrame


class TimeElementType(Enum):
    AGE = "age"
    DATE = "date"


class Boundary(Enum):
    START = "start"
    END = "end"


class ContextKind(Enum):
    """Field-stripped discriminants of the semantic context tags
    (~ config/context.rs:42-46 ``ContextKind``)."""

    SUBJECT_ID = "subject_id"
    SUBJECT_SEX = "subject_sex"
    DATE_OF_BIRTH = "date_of_birth"
    VITAL_STATUS = "vital_status"
    TIME_AT_LAST_ENCOUNTER = "time_at_last_encounter"
    TIME_OF_DEATH = "time_of_death"
    CAUSE_OF_DEATH = "cause_of_death"
    SURVIVAL_TIME_DAYS = "survival_time_days"
    HPO = "hpo"
    DISEASE = "disease"
    MULTI_HPO_ID = "multi_hpo_id"
    ONSET = "onset"
    HPO_OR_DISEASE = "hpo_or_disease"
    TIME_OF_RESOLUTION = "time_of_resolution"
    SEVERITY = "severity"
    OBSERVATION_STATUS = "observation_status"
    PRIMARY_SITE = "primary_site"
    HGVS = "hgvs"
    HGNC = "hgnc"
    QUANTITATIVE_MEASUREMENT = "quantitative_measurement"
    QUALITATIVE_MEASUREMENT = "qualitative_measurement"
    TIME_OF_MEASUREMENT = "time_of_measurement"
    REFERENCE_RANGE = "reference_range"
    TREATMENT_AGENT = "treatment_agent"
    ROUTE_OF_ADMINISTRATION = "route_of_administration"
    DRUG_TYPE = "drug_type"
    TREATMENT_TARGET = "treatment_target"
    TREATMENT_INTENT = "treatment_intent"
    RESPONSE_TO_TREATMENT = "response_to_treatment"
    TREATMENT_TERMINATION_REASON = "treatment_termination_reason"
    PROCEDURE = "procedure"
    PROCEDURE_BODY_SITE = "procedure_body_site"
    TIME_OF_PROCEDURE = "time_of_procedure"
    QUANTITY_VALUE = "quantity_value"
    QUANTITY_UNIT = "quantity_unit"
    NONE = "none"


@dataclass(frozen=True)
class Context:
    """A semantic tag, optionally parameterized (time-element type, boundary,
    assay/unit ids for measurements)."""

    kind: ContextKind
    time_type: Optional[TimeElementType] = None
    boundary: Optional[Boundary] = None
    assay_id: Optional[str] = None
    unit_ontology_id: Optional[str] = None

    # Convenience constructors for the parameterized variants.
    @staticmethod
    def subject_id() -> "Context":
        return Context(ContextKind.SUBJECT_ID)

    @staticmethod
    def onset(t: TimeElementType) -> "Context":
        return Context(ContextKind.ONSET, time_type=t)

    @staticmethod
    def quantitative_measurement(assay_id: str, unit_ontology_id: str | None = None) -> "Context":
        return Context(
            ContextKind.QUANTITATIVE_MEASUREMENT,
            assay_id=assay_id,
            unit_ontology_id=unit_ontology_id,
        )

    @staticmethod
    def qualitative_measurement(assay_id: str) -> "Context":
        return Context(ContextKind.QUALITATIVE_MEASUREMENT, assay_id=assay_id)


class OutputDataType(Enum):
    """Declared output types (~ config/table_context.rs:226-246)."""

    BOOLEAN = "boolean"
    STRING = "string"
    FLOAT64 = "double"
    INT64 = "bigint"
    DATE = "date"
    DATETIME = "timestamp"


@dataclass(frozen=True)
class Identifier:
    """Single (exact), Regex (is_match), or Multi (set membership) column
    identifier.  Resolution preserves *table column order*
    (~ config/table_context.rs:204-223; order semantics test :504-508)."""

    single: Optional[str] = None
    regex: Optional[str] = None
    multi: Optional[tuple[str, ...]] = None

    def __post_init__(self):
        n = sum(x is not None for x in (self.single, self.regex, self.multi))
        if n != 1:
            raise ValueError("Identifier needs exactly one of single/regex/multi")

    @staticmethod
    def of(value: Union[str, list, tuple, "Identifier"]) -> "Identifier":
        if isinstance(value, Identifier):
            return value
        if isinstance(value, str):
            return Identifier(single=value)
        return Identifier(multi=tuple(value))

    @staticmethod
    def rx(pattern: str) -> "Identifier":
        return Identifier(regex=pattern)

    def resolve(self, columns: list[str]) -> list[str]:
        """Return matching columns in table column order."""
        if self.single is not None:
            return [c for c in columns if c == self.single]
        if self.regex is not None:
            pat = re.compile(self.regex)
            return [c for c in columns if pat.search(c)]
        wanted = set(self.multi or ())
        return [c for c in columns if c in wanted]

    def matches(self, column: str) -> bool:
        return bool(self.resolve([column]))


@dataclass(frozen=True)
class SeriesContext:
    """Per-column semantic annotation (~ config/table_context.rs:283-302).

    ``building_block_id`` groups columns consumed row-aligned (SURVEY §2 G4/G5).
    ``fill_missing`` is declared in the reference but never applied to data
    (SURVEY §1.1) — we honor the config surface via ``F.coalesce`` anyway.
    """

    identifier: Identifier
    data_context: Context = field(default_factory=lambda: Context(ContextKind.NONE))
    header_context: Optional[Context] = None
    building_block_id: Optional[str] = None
    fill_missing: Optional[object] = None
    alias_map: Optional[dict] = None
    output_type: Optional[OutputDataType] = None

    def with_data_context(self, ctx: Context) -> "SeriesContext":
        return replace(self, data_context=ctx)


@dataclass
class TableContext:
    """Named set of SeriesContexts for one table (~ config/table_context.rs:27-31)."""

    name: str
    series_contexts: list[SeriesContext] = field(default_factory=list)

    def resolve(self, columns: list[str]) -> dict[str, SeriesContext]:
        """Map column name → first matching SeriesContext (match order =
        column order; ≤1 context per column enforced by validation V2)."""
        out: dict[str, SeriesContext] = {}
        for col in columns:
            for sc in self.series_contexts:
                if sc.identifier.matches(col):
                    out[col] = sc
                    break
        return out

    def columns_with_kind(self, columns: list[str], kind: ContextKind) -> list[str]:
        resolved = self.resolve(columns)
        return [c for c in columns if c in resolved and resolved[c].data_context.kind == kind]


class ValidationError(ValueError):
    pass


@dataclass
class ContextualizedDataFrame:
    """A Spark DataFrame + its TableContext (~ extract/contextualized_data_frame.rs:29-39).

    Invariants (V1-V3, validation/contextualised_dataframe_validation.rs:9-90):
    exactly one subject-id column; ≤1 SeriesContext per column; no dangling
    SeriesContexts.  Null-subject rows are checked lazily (a distributed
    check) via :func:`validate_subject_not_null`.
    """

    df: DataFrame
    context: TableContext

    def __post_init__(self):
        self.validate_structure()

    # -- driver-side structural validation (V1..V3) ------------------------
    def validate_structure(self) -> None:
        cols = self.df.columns
        resolved = self.context.resolve(cols)
        subj = [c for c, sc in resolved.items() if sc.data_context.kind == ContextKind.SUBJECT_ID]
        if len(subj) != 1:
            raise ValidationError(
                f"table {self.context.name!r}: expected exactly one subject_id column, got {subj}"
            )
        # ≤1 context per column: resolve() already picks the first match, but
        # flag ambiguity when two non-identical contexts claim one column.
        for col in cols:
            claiming = [
                sc for sc in self.context.series_contexts if sc.identifier.matches(col)
            ]
            if len({(id(sc)) for sc in claiming}) > 1 and len(claiming) > 1:
                distinct = {sc.data_context.kind for sc in claiming}
                if len(distinct) > 1:
                    raise ValidationError(
                        f"table {self.context.name!r}: column {col!r} matched by "
                        f"{len(claiming)} series contexts with different kinds {distinct}"
                    )
        # no dangling SeriesContexts
        for sc in self.context.series_contexts:
            if not sc.identifier.resolve(cols):
                raise ValidationError(
                    f"table {self.context.name!r}: series context {sc.identifier} "
                    "matches no column"
                )

    @property
    def subject_col(self) -> str:
        resolved = self.context.resolve(self.df.columns)
        for c, sc in resolved.items():
            if sc.data_context.kind == ContextKind.SUBJECT_ID:
                return c
        raise ValidationError("no subject_id column")

    def columns_with_kind(self, kind: ContextKind) -> list[str]:
        return self.context.columns_with_kind(self.df.columns, kind)

    def resolved(self) -> dict[str, SeriesContext]:
        return self.context.resolve(self.df.columns)

    def validate_subject_not_null(self) -> None:
        """Distributed V1 check: no nulls in the subject column.  The probe
        stops at 5 nulls, so the error path stays cheap at 100 TB."""
        from pyspark.sql import functions as F

        subj = self.subject_col
        bad = self.df.filter(F.col(subj).isNull()).limit(5).count()
        if bad:
            raise ValidationError(
                f"table {self.context.name!r}: subject column {subj!r} contains nulls"
            )

    def with_df(self, df: DataFrame) -> "ContextualizedDataFrame":
        return ContextualizedDataFrame(df=df, context=self.context)
