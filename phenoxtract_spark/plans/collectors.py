"""Collection phase (SURVEY §2.5): fold every patient's rows — across all
tables — into phenopacket sections.

The reference materializes per-patient frames and runs 9 collectors in a
loop (cdf_collector_broker.rs:32-91).  Spark-first: every collector is a
*section builder* producing ``(subject_id, <section array>)`` via narrow
projections unioned across tables, then ONE ``groupBy(subject_id)`` each;
the final assembly left-joins sections onto the subject dimension.

The column-anchored collectors (HPO cells, diseases, measurements,
procedures, treatments) share one row builder, :func:`_anchor_rows`: each
anchor column's non-null rows zipped with its block's linked columns, plus
the arrival order ``ord = struct(frame index, row order)`` that makes the
builder's upsert semantics explicit (SURVEY §7.3).  Both measurement kinds
are one frame (:func:`measurement_rows`), so one frame index keeps the
reference's (table, column) order across kinds.

Both packet renderers build on the same long frames: the flat sections
here (``Pipeline.collect``) and ``render_packets_v2`` differ only in the
item struct.  The broker order between two collectors (cells before
headers, procedures before treatments) lives in :func:`feature_rows` and
:func:`medical_action_rows`.  A section's aggregate also folds its terms'
CURIE prefixes (:func:`curie_prefix`), the packet's resources.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..descriptors import Boundary, ContextKind, ContextualizedDataFrame
from ..errors import strict_check
from ..functions.durations import time_element_expr
from ..operators import grouping
from ..sources.readers import INGEST_ROWNUM


def _subject(cdf: ContextualizedDataFrame):
    return F.col(cdf.subject_col).cast("string").alias("subject_id")


def _union(frames: list[DataFrame]) -> Optional[DataFrame]:
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _linked_col(cdf: ContextualizedDataFrame, block: Optional[str], kind: ContextKind,
                boundary: Optional[Boundary] = None) -> Optional[str]:
    """G4 (~ contextualized_data_frame.rs:166-282): ≤1 column with the given
    context (and reference-range ``boundary``) inside a building block;
    >1 → error (plan-build time)."""
    hits = [
        c
        for c, sc in cdf.resolved().items()
        if sc.building_block_id == block
        and sc.data_context.kind == kind
        and (boundary is None or sc.data_context.boundary == boundary)
    ]
    if len(hits) > 1:
        what = f"{kind} {boundary.value}" if boundary else f"{kind}"
        raise grouping.MultiplicityError(
            f"table {cdf.context.name!r} block {block!r}: multiple {what} columns {hits}"
        )
    return hits[0] if hits else None


INDIVIDUAL_FIELDS = {
    "sex": ContextKind.SUBJECT_SEX,
    "date_of_birth": ContextKind.DATE_OF_BIRTH,
    "vital_status": ContextKind.VITAL_STATUS,
    "time_at_last_encounter": ContextKind.TIME_AT_LAST_ENCOUNTER,
    "time_of_death": ContextKind.TIME_OF_DEATH,
    "cause_of_death": ContextKind.CAUSE_OF_DEATH,
    "survival_time_days": ContextKind.SURVIVAL_TIME_DAYS,
}


def collect_individual(cdfs: Sequence[ContextualizedDataFrame]) -> DataFrame:
    """IndividualCollector (~ individual_collector.rs:21-98): sex, DOB,
    vital status, time at last encounter, cause of death, survival days —
    each a G3 single-multiplicity element across all tables.

    ONE shuffle total: every (table, field-column) projects to a tagged
    narrow row (subject, field, value); the union groups by subject with a
    conditional ``collect_set`` per field.  The old shape (one
    ``single_valued`` groupBy+join per field) shuffled once per field."""
    parts = []
    for cdf in cdfs:
        # marker row keeps subjects visible even when every field is null
        parts.append(
            cdf.df.select(
                _subject(cdf), F.lit("_marker").alias("_field"), F.lit(None).cast("string").alias("_v")
            )
        )
        for name, kind in INDIVIDUAL_FIELDS.items():
            for col in cdf.columns_with_kind(kind):
                parts.append(
                    cdf.df.filter(F.col(col).isNotNull()).select(
                        _subject(cdf),
                        F.lit(name).alias("_field"),
                        F.col(col).cast("string").alias("_v"),
                    )
                )
    long = _union(parts)
    agg = long.groupBy("subject_id").agg(
        *[
            F.collect_set(F.when(F.col("_field") == name, F.col("_v"))).alias(f"_s_{name}")
            for name in INDIVIDUAL_FIELDS
        ]
    )
    # G3 strictness: >1 distinct value for any field → bounded error
    conflict = None
    for name in INDIVIDUAL_FIELDS:
        c = F.size(f"_s_{name}") > 1
        conflict = c if conflict is None else (conflict | c)

    def conflict_error(bad):
        detail = [
            (r["subject_id"], {n: sorted(r[f"_s_{n}"]) for n in INDIVIDUAL_FIELDS if len(r[f"_s_{n}"]) > 1})
            for r in bad
        ]
        return grouping.MultiplicityError(
            f"multiple distinct values for individual fields: {detail}"
        )

    strict_check(
        None, "multiple_values:individual",
        agg.filter(conflict).select("subject_id", *[f"_s_{n}" for n in INDIVIDUAL_FIELDS]),
        conflict_error, limit=grouping.ERROR_LIMIT,
    )
    return agg.select(
        "subject_id",
        *[
            F.try_element_at(f"_s_{name}", F.lit(1)).alias(name)
            for name in INDIVIDUAL_FIELDS
        ],
    )


def _row_ord(cdf: ContextualizedDataFrame):
    """Within-table row order: the explicit ingest row number when captured
    at read time (true file order), else a deterministic hash of the full
    row — stable across runs/partitioning/retries."""
    if INGEST_ROWNUM in cdf.df.columns:
        return F.col(INGEST_ROWNUM)
    return F.xxhash64(*[F.col(c) for c in cdf.df.columns])


def _anchor_rows(cdfs: Sequence[ContextualizedDataFrame], kinds, fields) -> Optional[DataFrame]:
    """The row-zip (G5) every column-anchored collector is built on.  For
    each column whose context kind is in ``kinds`` — table order, then
    column order — its non-null rows (P6) projected to ``(subject_id,
    *fields(cdf, col, sc, link), ord)``.  ``link(kind, type="string",
    boundary=None)`` is the block's linked column of that kind (G4) cast to
    ``type``, or a typed null; ``ord`` is ``struct(r, i)``: ``r`` the
    column's frame index, ``i`` its :func:`_row_ord`."""
    frames = []
    for cdf in cdfs:
        for col, sc in cdf.resolved().items():
            if sc.data_context.kind not in kinds:
                continue

            def link(kind, type="string", boundary=None):
                c = _linked_col(cdf, sc.building_block_id, kind, boundary)
                return (F.col(c) if c else F.lit(None)).cast(type)

            frames.append(
                cdf.df.filter(F.col(col).isNotNull()).select(
                    _subject(cdf),
                    *fields(cdf, col, sc, link),
                    F.struct(
                        F.lit(len(frames)).cast("long").alias("r"),
                        _row_ord(cdf).alias("i"),
                    ).alias("ord"),
                )
            )
    return _union(frames)


def collect_hpo_in_cells(cdfs: Sequence[ContextualizedDataFrame]) -> Optional[DataFrame]:
    """HpoInCellsCollector (~ hpo_in_cells_collector.rs:53-98): per HPO
    column, row-zip with linked onset/resolution/severity/excluded (G5);
    dedupe per (subject, hpo) keeping the LAST arrival (G6).

    Arrival order is COLUMN-major like the reference's per-series loop:
    ``seq`` ranks by (table+column frame index, row order); the kept row's
    values are last-arrival, while ``ord`` (the group's FIRST arrival)
    preserves the reference builder's insertion position for section
    ordering (IndexMap upsert keeps the original slot).
    Long form: (subject_id, hpo_id, onset, resolution, severity, excluded, ord)."""

    def fields(cdf, col, sc, link):
        obs = _linked_col(cdf, sc.building_block_id, ContextKind.OBSERVATION_STATUS)
        return [
            F.col(col).cast("string").alias("hpo_id"),
            link(ContextKind.ONSET).alias("onset"),
            link(ContextKind.TIME_OF_RESOLUTION).alias("resolution"),
            link(ContextKind.SEVERITY).alias("severity"),
            (~F.col(obs).cast("boolean") if obs else F.lit(False)).alias("excluded"),
        ]

    long = _anchor_rows(cdfs, {ContextKind.HPO}, fields)
    if long is None:
        return None
    from pyspark.sql.window import Window

    long = long.withColumnRenamed("ord", "seq").withColumn(
        "ord", F.min("seq").over(Window.partitionBy("subject_id", "hpo_id"))
    )
    return grouping.upsert_last(long, ["subject_id", "hpo_id"], "seq",
                                ["onset", "resolution", "severity", "excluded", "ord"])


def collect_hpo_in_headers(cdfs: Sequence[ContextualizedDataFrame]) -> Optional[DataFrame]:
    """HpoInHeaderCollector (~ hpo_in_header_collector.rs:22-84): boolean
    observation-status columns whose header IS the HPO id ('HP:x' or
    'HP:x#block'), collapsed per (subject, hpo) with conflict detection (G7)."""
    frames = []
    fidx = 0
    for cdf in cdfs:
        by_block: dict = {}
        for col, sc in cdf.resolved().items():
            if (
                sc.data_context.kind == ContextKind.OBSERVATION_STATUS
                and sc.header_context is not None
                and sc.header_context.kind == ContextKind.HPO
            ):
                by_block.setdefault(sc.building_block_id, []).append(col)
        for block, cols in by_block.items():
            onset = _linked_col(cdf, block, ContextKind.ONSET)
            collapsed = grouping.header_hpo_collapse(cdf.df, cdf.subject_col, cols, onset)
            # arrival order for header features = column position in the
            # table (the reference iterates header series in column order)
            pos_pairs = []
            for i, c in enumerate(cols):
                pos_pairs += [F.lit(c), F.lit(i)]
            ord_col = F.struct(
                F.lit(fidx).cast("long").alias("r"),
                F.element_at(F.create_map(*pos_pairs), F.col("hpo_id"))
                .cast("long")
                .alias("i"),
            )
            # header 'HP:x#block' → id 'HP:x' (~ transform/utils.rs:80-85)
            frames.append(
                collapsed.select(
                    "subject_id",
                    F.split(F.col("hpo_id"), "#")[0].alias("hpo_id"),
                    "observed",
                    "excluded",
                    "onset",
                    ord_col.alias("ord"),
                )
            )
            fidx += 1
    return _union(frames)


def collect_diseases(cdfs: Sequence[ContextualizedDataFrame]) -> Optional[DataFrame]:
    """DiseaseCollector (~ disease_collector.rs:44-71): disease + linked
    onset + primary site, row-zipped.  Exact duplicate rows collapse (one
    groupBy) keeping the FIRST arrival position as ``ord``; distinct
    (disease, onset) combinations stay separate entries like the
    reference's per-row builder pushes."""
    long = _anchor_rows(cdfs, {ContextKind.DISEASE}, lambda cdf, col, sc, link: [
        F.col(col).cast("string").alias("disease_id"),
        link(ContextKind.ONSET).alias("onset"),
        link(ContextKind.PRIMARY_SITE).alias("primary_site"),
    ])
    if long is None:
        return None
    return long.groupBy("subject_id", "disease_id", "onset", "primary_site").agg(
        F.min("ord").alias("ord")
    )


_REFERENCE_RANGE = {"ref_low": Boundary.START, "ref_high": Boundary.END}


def measurement_rows(cdfs: Sequence[ContextualizedDataFrame], kinds) -> Optional[DataFrame]:
    """Quantitative (~ quantitative_measurement_collector.rs:53-95) and
    qualitative (~ qualitative_measurement_collector.rs) measurements of the
    context ``kinds`` given, as one long frame in (table, column) order —
    the reference pushes both kinds interleaved in column order.  The assay
    (and a quantitative column's unit) come from the context parameters.
    Long form: (subject_id, assay_id, value, value_id, unit, time_observed,
    ref_low, ref_high, ord).  A quantitative row has a null ``value_id``; a
    qualitative row (an ontology-coded value, e.g. a PATO term after
    normalization) has a null ``value``, ``unit`` and reference range."""

    def fields(cdf, col, sc, link):
        ctx = sc.data_context
        quant = ctx.kind == ContextKind.QUANTITATIVE_MEASUREMENT
        value, none = F.col(col), F.lit(None)
        return [
            F.lit(ctx.assay_id).cast("string").alias("assay_id"),
            (value if quant else none).cast("double").alias("value"),
            (none if quant else value).cast("string").alias("value_id"),
            F.lit(ctx.unit_ontology_id if quant else None).cast("string").alias("unit"),
            link(ContextKind.TIME_OF_MEASUREMENT).alias("time_observed"),
            *[
                (link(ContextKind.REFERENCE_RANGE, "double", b) if quant else none.cast("double")).alias(k)
                for k, b in _REFERENCE_RANGE.items()
            ],
        ]

    return _anchor_rows(cdfs, kinds, fields)


# phenopackets DrugType enum (phenopacket_builder.rs:578-585 parses via
# from_str_name — unknown names are a hard error there; we validate the same
# set at plan level when strict)
DRUG_TYPES = {
    "UNKNOWN_DRUG_TYPE",
    "PRESCRIPTION",
    "EHR_MEDICATION_LIST",
    "ADMINISTRATION_RELATED_TO_PROCEDURE",
}

#: MedicalActionData (~ medical_action.rs:21-52): the four optional
#: action-level columns linked into a procedure's or an agent's block.
MEDICAL_ACTION_FIELDS = {
    "treatment_target": ContextKind.TREATMENT_TARGET,
    "treatment_intent": ContextKind.TREATMENT_INTENT,
    "response_to_treatment": ContextKind.RESPONSE_TO_TREATMENT,
    "treatment_termination_reason": ContextKind.TREATMENT_TERMINATION_REASON,
}


def collect_medical_procedures(cdfs: Sequence[ContextualizedDataFrame]) -> Optional[DataFrame]:
    """MedicalProcedureCollector (~ medical_procedure_collector.rs:96-135):
    per Procedure column, row-zip the linked body-site / time-of-procedure /
    action-level columns; null-procedure rows are skipped (no row error —
    medical_procedure_data.rs:56-66 returns None).

    Plan-build strictness (~ medical_procedure_data.rs:38-48): a block with
    body-site or procedure-time columns but NO procedure column is a config
    error.  Long form: (subject_id, procedure_code, body_site, performed,
    treatment_target, treatment_intent, response_to_treatment,
    treatment_termination_reason, ord)."""
    for cdf in cdfs:
        resolved = cdf.resolved().values()
        proc_blocks = {sc.building_block_id for sc in resolved if sc.data_context.kind == ContextKind.PROCEDURE}
        for block in {sc.building_block_id for sc in resolved} - proc_blocks:
            orphan = _linked_col(cdf, block, ContextKind.PROCEDURE_BODY_SITE) or _linked_col(
                cdf, block, ContextKind.TIME_OF_PROCEDURE
            )
            if orphan:
                raise grouping.MultiplicityError(
                    f"table {cdf.context.name!r} block {block!r}: column {orphan!r} "
                    "(procedure body-site/time) has no Procedure column in its block"
                )
    return _anchor_rows(cdfs, {ContextKind.PROCEDURE}, lambda cdf, col, sc, link: [
        F.col(col).cast("string").alias("procedure_code"),
        link(ContextKind.PROCEDURE_BODY_SITE).alias("body_site"),
        link(ContextKind.TIME_OF_PROCEDURE).alias("performed"),
        *[link(kind).alias(k) for k, kind in MEDICAL_ACTION_FIELDS.items()],
    ])


def collect_medical_treatments(
    cdfs: Sequence[ContextualizedDataFrame],
) -> Optional[DataFrame]:
    """MedicalTreatmentCollector (~ medical_treatment_collector.rs:106-152):
    per TreatmentAgent column, row-zip route-of-administration / drug-type /
    cumulative dose (QuantityValue + QuantityUnit + ReferenceRange) and the
    four action-level columns.

    Strictness, matching the reference:
    - plan-build (~ medical_treatment_data.rs:54-66, quantity_data.rs:34-48):
      route/drug/dose columns with no agent column in the block, a dose value
      column without a unit column (or vice versa), or a reference-range
      boundary without its pair → error before any job runs;
    - row-level (~ medical_treatment_data.rs:104-117, G12): a null agent
      alongside non-null route/drug/dose values → RequiredValueMissing,
      raised now as MultiplicityError after a bounded collect (the
      ``treatment_agent_missing`` probe).  Like every collector check it
      reads the rows ``Pipeline.transform`` stored at its barrier, after the
      Pipeline's ledger has validated, so it is never deferred.

    Long form: (subject_id, agent, route_of_administration, drug_type,
    dose_value, dose_unit, ref_low, ref_high, treatment_target,
    treatment_intent, response_to_treatment, treatment_termination_reason,
    ord)."""
    for cdf in cdfs:
        agent_blocks = {
            sc.building_block_id
            for sc in cdf.resolved().values()
            if sc.data_context.kind == ContextKind.TREATMENT_AGENT
        }
        for col, sc in cdf.resolved().items():
            kind = sc.data_context.kind
            if (
                kind in (ContextKind.ROUTE_OF_ADMINISTRATION, ContextKind.DRUG_TYPE)
                and sc.building_block_id not in agent_blocks
            ):
                raise grouping.MultiplicityError(
                    f"table {cdf.context.name!r} block {sc.building_block_id!r}: "
                    f"column {col!r} ({kind.value}) has no TreatmentAgent column in its block"
                )
    bad_frames = []

    def fields(cdf, col, sc, link):
        block = sc.building_block_id
        route, drug, qval, qunit = (_linked_col(cdf, block, k) for k in (
            ContextKind.ROUTE_OF_ADMINISTRATION, ContextKind.DRUG_TYPE,
            ContextKind.QUANTITY_VALUE, ContextKind.QUANTITY_UNIT,
        ))
        if (qval is None) != (qunit is None):
            raise grouping.MultiplicityError(
                f"table {cdf.context.name!r} block {block!r}: cumulative dose needs "
                f"BOTH QuantityValue and QuantityUnit columns (have value={qval!r}, unit={qunit!r})"
            )
        lo, hi = (_linked_col(cdf, block, ContextKind.REFERENCE_RANGE, b) for b in _REFERENCE_RANGE.values())
        if (lo is None) != (hi is None):
            raise grouping.MultiplicityError(
                f"table {cdf.context.name!r} block {block!r}: reference range needs "
                f"BOTH start and end columns (have start={lo!r}, end={hi!r})"
            )
        others = [c for c in (route, drug, qval, qunit) if c]
        if others:
            present = reduce(or_, [F.col(c).isNotNull() for c in others])
            bad_frames.append(
                cdf.df.filter(F.col(col).isNull() & present).select(_subject(cdf).alias("offender"))
            )
        return [
            F.col(col).cast("string").alias("agent"),
            link(ContextKind.ROUTE_OF_ADMINISTRATION).alias("route_of_administration"),
            link(ContextKind.DRUG_TYPE).alias("drug_type"),
            link(ContextKind.QUANTITY_VALUE, "double").alias("dose_value"),
            link(ContextKind.QUANTITY_UNIT).alias("dose_unit"),
            *[link(ContextKind.REFERENCE_RANGE, "double", b).alias(k) for k, b in _REFERENCE_RANGE.items()],
            *[link(kind).alias(k) for k, kind in MEDICAL_ACTION_FIELDS.items()],
        ]

    rows = _anchor_rows(cdfs, {ContextKind.TREATMENT_AGENT}, fields)
    if bad_frames:
        strict_check(
            None, "treatment_agent_missing", _union(bad_frames),
            lambda rows: grouping.MultiplicityError(
                "treatment values without an agent for subjects: "
                f"{sorted({r['offender'] for r in rows})}"
            ),
            limit=grouping.ERROR_LIMIT,
        )
    return rows


def _broker_rows(halves, cols: dict[str, str]) -> Optional[DataFrame]:
    """Union two collectors' long frames in broker order
    (cdf_collector_broker.rs:77-91): ``halves`` is ``((rows, own columns),
    (rows, own columns))``, ``cols`` every column with its type.  A half
    fills the columns it lacks with nulls, and ``ord`` becomes
    ``struct(c, s)``: ``c`` is the half (0 first), ``s`` its arrival order."""
    parts = [
        rows.select(
            "subject_id",
            *[(F.col(k) if k in own else F.lit(None).cast(t)).alias(k) for k, t in cols.items()],
            F.struct(F.lit(c).alias("c"), F.col("ord").alias("s")).alias("ord"),
        )
        for c, (rows, own) in enumerate(halves)
        if rows is not None
    ]
    return _union(parts)


_PROCEDURE_COLS = {"procedure_code": "string", "body_site": "string", "performed": "string"}
_TREATMENT_COLS = {
    "agent": "string", "route_of_administration": "string", "drug_type": "string",
    "dose_value": "double", "dose_unit": "string", "ref_low": "double", "ref_high": "double",
}


def medical_action_rows(
    procedures: Optional[DataFrame], treatments: Optional[DataFrame]
) -> Optional[DataFrame]:
    """Procedure and treatment rows as one long frame: MedicalProcedureCollector
    runs before MedicalTreatmentCollector, so all procedures (``ord.c`` 0)
    precede all treatments (``ord.c`` 1); within each, arrival order.  A row
    carries the other half's columns as nulls."""
    act = dict.fromkeys(MEDICAL_ACTION_FIELDS, "string")
    return _broker_rows(
        ((procedures, [*_PROCEDURE_COLS, *act]), (treatments, [*_TREATMENT_COLS, *act])),
        {**_PROCEDURE_COLS, **_TREATMENT_COLS, **act},
    )


def medical_actions_section(
    procedures: Optional[DataFrame], treatments: Optional[DataFrame]
) -> Optional[DataFrame]:
    """Merge procedure and treatment rows into one ``medical_actions`` array
    per subject, in :func:`medical_action_rows` order."""
    long = medical_action_rows(procedures, treatments)
    if long is None:
        return None
    is_procedure = F.col("ord.c") == 0
    return ordered_section(
        long,
        F.struct(
            F.when(is_procedure, F.struct(
                F.col("procedure_code").alias("code"),
                F.col("body_site"),
                time_element_expr("performed").alias("performed"),
            )).alias("procedure"),
            F.when(~is_procedure, F.struct(*_TREATMENT_COLS)).alias("treatment"),
            *MEDICAL_ACTION_FIELDS,
        ),
        "medical_actions",
    )


def collect_interpretations(cdfs: Sequence[ContextualizedDataFrame]) -> Optional[DataFrame]:
    """G8/G9: classify each genomic row and group into one Interpretation
    per (subject, disease).  See :func:`interpretation_rows` for the long
    form the classification runs over."""
    from ..operators import interpret

    long = interpretation_rows(cdfs)
    if long is None:
        return None
    return interpret.assemble_interpretations(
        long, "subject_id", "disease", "genes", "variants"
    )


def interpretation_rows(cdfs: Sequence[ContextualizedDataFrame]) -> Optional[DataFrame]:
    """G8/G9 long form (~ interpretation_collector.rs:16-196): one row per
    source row carrying (subject, disease, genes[], variants[], ord).  G9:
    when the block's disease lives in ANOTHER table, resolve it cross-table
    via G3 single-multiplicity and broadcast-join it onto the variant rows."""
    # disease values per (subject, block) across ALL tables — the G9 source
    disease_frames: dict = {}
    for cdf in cdfs:
        for col, sc in cdf.resolved().items():
            if sc.data_context.kind == ContextKind.DISEASE and sc.building_block_id:
                disease_frames.setdefault(sc.building_block_id, []).append(
                    (cdf.df, cdf.subject_col, col)
                )
    rows_frames = []
    fidx = 0
    for cdf in cdfs:
        by_block: dict = {}
        for col, sc in cdf.resolved().items():
            if sc.building_block_id and sc.data_context.kind in (
                ContextKind.HGNC, ContextKind.HGVS
            ):
                by_block.setdefault(sc.building_block_id, {"genes": [], "variants": []})
                key = "genes" if sc.data_context.kind == ContextKind.HGNC else "variants"
                by_block[sc.building_block_id][key].append(col)
        for block, cols in by_block.items():
            genes_arr = F.filter(
                F.array(*[F.col(c).cast("string") for c in cols["genes"]])
                if cols["genes"] else F.array().cast("array<string>"),
                lambda x: x.isNotNull(),
            )
            variants_arr = F.filter(
                F.array(*[F.col(c).cast("string") for c in cols["variants"]])
                if cols["variants"] else F.array().cast("array<string>"),
                lambda x: x.isNotNull(),
            )
            local_disease = _linked_col(cdf, block, ContextKind.DISEASE)
            base = cdf.df.select(
                _subject(cdf),
                (F.col(local_disease) if local_disease else F.lit(None)).cast("string").alias("disease"),
                genes_arr.alias("genes"),
                variants_arr.alias("variants"),
                F.struct(
                    F.lit(fidx).cast("long").alias("r"),
                    _row_ord(cdf).alias("i"),
                ).alias("ord"),
            )
            fidx += 1
            if local_disease is None and block in disease_frames:
                dval = grouping.single_valued(
                    disease_frames[block], alias="disease_x", strict=True
                )
                base = (
                    base.drop("disease")
                    .join(F.broadcast(dval), "subject_id", "left")
                    .withColumnRenamed("disease_x", "disease")
                )
            rows_frames.append(
                base.filter((F.size("genes") > 0) | (F.size("variants") > 0))
            )
    return _union(rows_frames)


def curie_prefix(col: "F.Column") -> "F.Column":
    """The resource a CURIE cites: its lowercased prefix ('HP:0001' → 'hp');
    null when the value is not a CURIE."""
    return F.when(col.rlike(r"^[A-Za-z][A-Za-z0-9.]*:"), F.lower(F.split(col, ":")[0]))


def ordered_section(long: DataFrame, item: "F.Column", alias: str,
                    ord_col: "F.Column | None" = None,
                    prefixes: "F.Column | None" = None) -> DataFrame:
    """Aggregate (subject, item) rows into a per-subject array in ARRIVAL
    order: sort_array over (ord, item) structs, then strip the ord — the
    distributed equivalent of the reference builder's insertion-ordered
    section vectors.  ``prefixes`` (a per-row array of CURIE prefixes) is
    folded in the same aggregate into ``_{alias}_prefixes``, the section's
    share of ``metaData.resources``."""
    o = ord_col if ord_col is not None else F.col("ord")
    aggs = [
        F.transform(F.sort_array(F.collect_list("_oi")), lambda p: p["x"]).alias(alias)
    ]
    cols = ["subject_id", F.struct(o.alias("o"), item.alias("x")).alias("_oi")]
    if prefixes is not None:
        cols.append(prefixes.alias("_p"))
        aggs.append(F.flatten(F.collect_set("_p")).alias(f"_{alias}_prefixes"))
    return long.select(*cols).groupBy("subject_id").agg(*aggs)


def feature_rows(hpo_cells: Optional[DataFrame], hpo_headers: Optional[DataFrame]) -> Optional[DataFrame]:
    """Cell-sourced and observed header-sourced features as one long frame:
    the reference's HpoInCells collector runs before HpoInHeader, so every
    cell feature (``ord.c`` 0) precedes every header feature (``ord.c`` 1),
    each in (table+column, row) order.  Header rows carry null
    ``resolution`` and ``severity``."""
    cols = {"hpo_id": "string", "excluded": "boolean", "onset": "string",
            "resolution": "string", "severity": "string"}
    if hpo_headers is not None:
        hpo_headers = hpo_headers.filter(F.col("observed").isNotNull())
    return _broker_rows(
        ((hpo_cells, cols), (hpo_headers, ["hpo_id", "excluded", "onset"])), cols
    )


def features_section(hpo_cells: Optional[DataFrame], hpo_headers: Optional[DataFrame]) -> Optional[DataFrame]:
    """One ``phenotypic_features`` array per subject (G10 section), in
    :func:`feature_rows` order, with the features' CURIE prefixes."""
    long = feature_rows(hpo_cells, hpo_headers)
    if long is None:
        return None
    return ordered_section(
        long,
        F.struct(
            F.col("hpo_id").alias("type_id"),
            F.col("excluded"),
            time_element_expr("onset").alias("onset"),
            time_element_expr("resolution").alias("resolution"),
            F.col("severity"),
        ),
        "phenotypic_features",
        prefixes=F.array(curie_prefix(F.col("hpo_id"))),
    )


def diseases_section(diseases: Optional[DataFrame]) -> Optional[DataFrame]:
    if diseases is None:
        return None
    return ordered_section(
        diseases,
        F.struct(
            F.col("disease_id").alias("term_id"),
            time_element_expr("onset").alias("onset"),
            F.col("primary_site"),
        ),
        "diseases",
        prefixes=F.array(curie_prefix(F.col("disease_id"))),
    )


def measurements_section(meas: Optional[DataFrame]) -> Optional[DataFrame]:
    if meas is None:
        return None
    return ordered_section(
        meas,
        F.struct(
            F.col("assay_id"),
            F.col("value"),
            F.col("unit"),
            F.col("time_observed"),
            F.col("ref_low"),
            F.col("ref_high"),
        ),
        "measurements",
    )
