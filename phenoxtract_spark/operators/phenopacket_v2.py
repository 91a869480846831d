"""GA4GH Phenopacket v2 rendering (SURVEY §2.5 G10 faithful mode).

The flat packet of :mod:`packet` is the engine's scale-native output; this
module renders the spec-shaped Phenopacket v2 JSON the reference emits
(~ phenopacket_builder.rs:36-61,609-702 + load/file_system_loader.rs),
byte-comparable (after volatile-field normalization) with the reference's
expected fixtures.

Everything is DataFrame-native: label lookups are broadcast dimension
joins, each section is ONE ``groupBy(subject_id)`` in ARRIVAL order (the
builder's insertion-ordered vectors), the sections left-join onto the
subject rows, and the packet is one nested ``F.struct`` → ``to_json`` with
null/empty fields and proto3 defaults (``excluded`` false,
``survivalTimeInDays`` 0) omitted — no driver-side packet building.  The
section rows and their broker order come from :mod:`..plans.collectors`,
as for the flat packet; this module only chooses the v2 item structs.

Dimensions (all broadcast, offline by design — X3-X5 pre-resolve pattern):
- ``labels_dim``  (id, label): ontology class labels (HP/MONDO/UO/PATO/LOINC)
- ``hgnc_dim``    (symbol, hgnc_id)
- ``hgvs_dim``    (hgvs, expressions array<struct<syntax,value>>,
                   vcf struct<genome_assembly,chrom,pos,ref,alt>)

``resources`` is a plain list of metaData resource records.  Each section's
aggregate also folds the CURIE prefixes of its terms (genomic
interpretations add ``hgnc``/``geno``); ``metaData.resources`` is the
records whose ``id`` the subject used, in configuration order
(~ phenopacket_builder.rs:683-702).  Unknown prefixes and terms that are
not CURIEs are dropped.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..descriptors import ContextKind
from ..functions.casting import parse_datetime_multi
from ..functions.durations import is_iso8601_duration
from ..plans import collectors
from ..plans.collectors import curie_prefix
from .packet import SCHEMA_VERSION, cohort_packet_id

# metaData.created is fixed, so a render is byte-stable across runs
CREATED = "1970-01-01T00:00:00Z"
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _ts_str(col: Column) -> Column:
    return F.date_format(parse_datetime_multi(col), _TS_FMT)


def time_element_v2(col: Column | str) -> Column:
    """C11 rendered for v2 JSON: ISO durations → {age:{iso8601duration}},
    parseable datetimes → {timestamp: "...Z"}, else null (omitted)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    ts = _ts_str(c)
    return (
        F.when(
            is_iso8601_duration(c),
            F.struct(
                F.struct(c.alias("iso8601duration")).alias("age"),
                F.lit(None).cast("string").alias("timestamp"),
            ),
        )
        .when(
            ts.isNotNull(),
            F.struct(
                F.lit(None).cast("struct<iso8601duration:string>").alias("age"),
                ts.alias("timestamp"),
            ),
        )
        .otherwise(
            F.lit(None).cast(
                "struct<age:struct<iso8601duration:string>,timestamp:string>"
            )
        )
    )


def _olabel(df: DataFrame, labels_dim: DataFrame, id_col: str, out: str) -> DataFrame:
    """Broadcast label join: id → label (null when unknown)."""
    dim = F.broadcast(
        labels_dim.select(F.col("id").alias(f"_{out}_id"), F.col("label").alias(out))
    )
    return df.join(dim, df[id_col] == dim[f"_{out}_id"], "left").drop(f"_{out}_id")


def _oclass(id_col: str, label_col: str) -> Column:
    return F.struct(F.col(id_col).alias("id"), F.col(label_col).alias("label"))


def _nonempty(col: str) -> Column:
    return F.when(F.size(F.col(col)) > 0, F.col(col))


def _camel(snake: str) -> str:
    head, *rest = snake.split("_")
    return head + "".join(w.capitalize() for w in rest)


def render_packets_v2(
    cdfs: Sequence,
    labels_dim: DataFrame,
    hgnc_dim: Optional[DataFrame] = None,
    hgvs_dim: Optional[DataFrame] = None,
    resources: Optional[list[dict]] = None,
    cohort: Optional[str] = None,
    created_by: str = "phenoxtract-spark",
    submitted_by: Optional[str] = None,
) -> DataFrame:
    """Render one Phenopacket v2 JSON document per subject.
    Returns (subject_id, packet_json)."""
    individual = collectors.collect_individual(cdfs)
    pid = cohort_packet_id(cohort, F.col("subject_id")) if cohort else F.col("subject_id")

    # ---- phenotypicFeatures (cells first, then header-sourced) ------------
    feats = collectors.feature_rows(
        collectors.collect_hpo_in_cells(cdfs), collectors.collect_hpo_in_headers(cdfs)
    )
    features_sec = None
    if feats is not None:
        feats = _olabel(feats, labels_dim, "hpo_id", "_lbl")
        item = F.struct(
            _oclass("hpo_id", "_lbl").alias("type"),
            # proto3 default: false is omitted
            F.when(F.col("excluded"), F.lit(True)).alias("excluded"),
            time_element_v2("onset").alias("onset"),
        )
        features_sec = collectors.ordered_section(
            feats, item, "phenotypicFeatures",
            prefixes=F.array(curie_prefix(F.col("hpo_id"))),
        )

    # ---- diseases ---------------------------------------------------------
    dis = collectors.collect_diseases(cdfs)
    diseases_sec = None
    if dis is not None:
        dis = _olabel(dis, labels_dim, "disease_id", "_lbl")
        item = F.struct(
            _oclass("disease_id", "_lbl").alias("term"),
            time_element_v2("onset").alias("onset"),
        )
        diseases_sec = collectors.ordered_section(
            dis, item, "diseases", prefixes=F.array(curie_prefix(F.col("disease_id")))
        )

    # ---- measurements (quantitative + qualitative, column order) ----------
    meas = collectors.measurement_rows(
        cdfs, {ContextKind.QUANTITATIVE_MEASUREMENT, ContextKind.QUALITATIVE_MEASUREMENT}
    )
    meas_sec = None
    if meas is not None:
        coded = ("assay_id", "unit", "value_id")
        for c in coded:
            meas = _olabel(meas, labels_dim, c, f"_{c}_lbl")
        unit_cls = _oclass("unit", "_unit_lbl")
        ref = F.when(
            F.col("ref_low").isNotNull() | F.col("ref_high").isNotNull(),
            F.struct(
                unit_cls.alias("unit"),
                F.col("ref_low").alias("low"),
                F.col("ref_high").alias("high"),
            ),
        )
        is_quantity = F.col("value_id").isNull()
        item = F.struct(
            _oclass("assay_id", "_assay_id_lbl").alias("assay"),
            time_element_v2("time_observed").alias("timeObserved"),
            F.struct(
                F.when(is_quantity, F.struct(
                    unit_cls.alias("unit"),
                    F.col("value").alias("value"),
                    ref.alias("referenceRange"),
                )).alias("quantity"),
                F.when(~is_quantity, _oclass("value_id", "_value_id_lbl")).alias("ontologyClass"),
            ).alias("value"),
        )
        meas_sec = collectors.ordered_section(
            meas, item, "measurements",
            prefixes=F.array(*[curie_prefix(F.col(c)) for c in coded]),
        )

    # ---- interpretations --------------------------------------------------
    interp_sec = None
    irows = collectors.interpretation_rows(cdfs)
    if irows is not None:
        irows = irows.filter(F.col("disease").isNotNull())
        # one genomic interpretation per DISTINCT variant (array order), or a
        # bare gene descriptor when the row has genes but no variants
        # (~ phenopacket_builder.rs:283-362)
        exploded = irows.select(
            "subject_id", "disease", "genes", "variants", "ord",
            F.posexplode_outer(F.array_distinct("variants")).alias("_vp", "_variant"),
        )
        # F.get, not element_at: a block configured with variant columns but
        # no gene columns yields genes = [] and ANSI element_at would throw
        gene_sym = F.get("genes", 0)
        exploded = exploded.withColumn("_gene", gene_sym)
        if hgnc_dim is not None:
            dim = F.broadcast(
                hgnc_dim.select(F.col("symbol").alias("_gene"), F.col("hgnc_id"))
            )
            exploded = exploded.join(dim, "_gene", "left")
        else:
            exploded = exploded.withColumn("_hgnc_id", F.lit(None).cast("string"))
            exploded = exploded.withColumnRenamed("_hgnc_id", "hgnc_id")
        if hgvs_dim is not None:
            vdim = F.broadcast(hgvs_dim.withColumnRenamed("hgvs", "_variant"))
            exploded = exploded.join(vdim, "_variant", "left")
        else:
            exploded = (
                exploded.withColumn(
                    "expressions",
                    F.lit(None).cast("array<struct<syntax:string,value:string>>"),
                )
                .withColumn(
                    "vcf",
                    F.lit(None).cast(
                        "struct<genome_assembly:string,chrom:string,pos:bigint,"
                        "ref:string,alt:string>"
                    ),
                )
            )
        gene_ctx = F.when(
            F.col("_gene").isNotNull(),
            F.struct(F.col("hgnc_id").alias("valueId"), F.col("_gene").alias("symbol")),
        )
        n_copies = F.size(
            F.filter("variants", lambda x: x == F.col("_variant"))
        )
        allelic = F.when(
            n_copies >= 2,
            F.struct(F.lit("GENO:0000136").alias("id"), F.lit("homozygous").alias("label")),
        ).otherwise(
            F.struct(F.lit("GENO:0000135").alias("id"), F.lit("heterozygous").alias("label"))
        )
        vd = F.struct(
            F.concat(F.lit("vd:"), F.md5(F.concat_ws("|", "subject_id", "disease", "_variant"))).alias("id"),
            gene_ctx.alias("geneContext"),
            F.coalesce(
                F.col("expressions"),
                F.array(
                    F.struct(F.lit("hgvs").alias("syntax"), F.col("_variant").alias("value"))
                ),
            ).alias("expressions"),
            F.when(
                F.col("vcf").isNotNull(),
                F.struct(
                    F.col("vcf.genome_assembly").alias("genomeAssembly"),
                    F.col("vcf.chrom").alias("chrom"),
                    F.col("vcf.pos").alias("pos"),
                    F.col("vcf.ref").alias("ref"),
                    F.col("vcf.alt").alias("alt"),
                ),
            ).alias("vcfRecord"),
            F.lit("genomic").alias("moleculeContext"),
            allelic.alias("allelicState"),
        )
        variant_interp = F.struct(
            F.lit("PATHOGENIC").alias("acmgPathogenicityClassification"),
            F.lit("UNKNOWN_ACTIONABILITY").alias("therapeuticActionability"),
            vd.alias("variationDescriptor"),
        )
        gi = F.struct(
            F.col("subject_id").alias("subjectOrBiosampleId"),
            F.lit("UNKNOWN_STATUS").alias("interpretationStatus"),
            F.when(F.col("_variant").isNull(), gene_ctx).alias("gene"),
            F.when(F.col("_variant").isNotNull(), variant_interp).alias(
                "variantInterpretation"
            ),
        )
        gi_rows = exploded.filter(
            F.col("_variant").isNotNull() | F.col("_gene").isNotNull()
        ).select(
            "subject_id",
            "disease",
            F.struct(F.col("ord"), F.coalesce("_vp", F.lit(0)).alias("vp")).alias("_gord"),
            gi.alias("gi"),
            F.array(
                F.when(F.col("_gene").isNotNull(), F.lit("hgnc")),
                F.when(F.col("_variant").isNotNull(), F.lit("geno")),
            ).alias("_gp"),
        )
        per_disease = (
            gi_rows.select(
                "subject_id", "disease", "_gp",
                F.struct(F.col("_gord").alias("o"), F.col("gi").alias("x")).alias("_oi"),
            )
            .groupBy("subject_id", "disease")
            .agg(
                F.transform(F.sort_array(F.collect_list("_oi")), lambda p: p["x"]).alias("gis"),
                F.min("_oi.o").alias("_iord"),
                F.flatten(F.collect_set("_gp")).alias("_gp"),
            )
        )
        per_disease = _olabel(per_disease, labels_dim, "disease", "_dlbl")
        interp_item = F.struct(
            F.concat_ws("-", pid, F.col("disease")).alias("id"),
            F.lit("UNKNOWN_PROGRESS").alias("progressStatus"),
            F.struct(
                _oclass("disease", "_dlbl").alias("disease"),
                F.col("gis").alias("genomicInterpretations"),
            ).alias("diagnosis"),
        )
        interp_sec = collectors.ordered_section(
            per_disease, interp_item, "interpretations", ord_col=F.col("_iord"),
            prefixes=F.concat(F.array(curie_prefix(F.col("disease"))), F.col("_gp")),
        )

    # ---- medicalActions (procedures first, then treatments — broker order)
    medact_sec = None
    acts = collectors.medical_action_rows(
        collectors.collect_medical_procedures(cdfs), collectors.collect_medical_treatments(cdfs)
    )
    if acts is not None:
        coded = ("procedure_code", "body_site", "agent", "route_of_administration",
                 "dose_unit", *collectors.MEDICAL_ACTION_FIELDS)
        for c in coded:
            acts = _olabel(acts, labels_dim, c, f"_{c}_lbl")

        def oclass(c: str) -> Column:
            return F.when(F.col(c).isNotNull(), _oclass(c, f"_{c}_lbl"))

        is_procedure = F.col("ord.c") == 0
        dose = F.when(
            F.col("dose_value").isNotNull() & F.col("dose_unit").isNotNull(),
            F.struct(
                _oclass("dose_unit", "_dose_unit_lbl").alias("unit"),
                F.col("dose_value").alias("value"),
            ),
        )
        item = F.struct(
            F.when(is_procedure, F.struct(
                _oclass("procedure_code", "_procedure_code_lbl").alias("code"),
                oclass("body_site").alias("bodySite"),
                time_element_v2("performed").alias("performed"),
            )).alias("procedure"),
            F.when(~is_procedure, F.struct(
                _oclass("agent", "_agent_lbl").alias("agent"),
                oclass("route_of_administration").alias("routeOfAdministration"),
                F.col("drug_type").alias("drugType"),
                dose.alias("cumulativeDose"),
            )).alias("treatment"),
            *[oclass(f_).alias(_camel(f_)) for f_ in collectors.MEDICAL_ACTION_FIELDS],
        )
        medact_sec = collectors.ordered_section(
            acts, item, "medicalActions",
            prefixes=F.array(*[curie_prefix(F.col(c)) for c in coded]),
        )

    # ---- subject + assembly ----------------------------------------------
    out = individual
    used: list[Column] = []
    sections = {
        "phenotypicFeatures": features_sec, "diseases": diseases_sec,
        "measurements": meas_sec, "interpretations": interp_sec,
        "medicalActions": medact_sec,
    }
    for name, sec in sections.items():
        if sec is None:
            out = out.withColumn(name, F.lit(None).cast("array<string>"))
        else:
            out = out.join(sec, "subject_id", "left")
            used.append(F.coalesce(f"_{name}_prefixes", F.array().cast("array<string>")))
    resources_col = F.lit(None).cast("array<string>")
    if resources and used:
        records = F.array(*[
            F.struct(*[
                F.lit(r.get(k)).cast("string").alias(k)
                for k in ("id", "name", "url", "version", "namespacePrefix", "iriPrefix")
            ])
            for r in resources
        ])
        subject_prefixes = F.concat(*used)
        # configuration order; unknown (and null) prefixes match no record
        kept = F.filter(records, lambda r: F.array_contains(subject_prefixes, r["id"]))
        resources_col = F.when(F.size(kept) > 0, kept)

    days = F.col("survival_time_days").cast("double").cast("long")
    vital = F.when(
        F.col("vital_status").isNotNull()
        | F.col("time_of_death").isNotNull()
        | F.col("survival_time_days").isNotNull(),
        F.struct(
            F.col("vital_status").alias("status"),
            time_element_v2("time_of_death").alias("timeOfDeath"),
            # proto3 default: 0 is omitted
            F.when(days != 0, days).alias("survivalTimeInDays"),
        ),
    )
    subject = F.struct(
        F.col("subject_id").alias("id"),
        _ts_str(F.col("date_of_birth")).alias("dateOfBirth"),
        time_element_v2("time_at_last_encounter").alias("timeAtLastEncounter"),
        vital.alias("vitalStatus"),
        F.coalesce(F.col("sex"), F.lit("UNKNOWN_SEX")).alias("sex"),
        F.lit("UNKNOWN_KARYOTYPE").alias("karyotypicSex"),
    )
    meta = F.struct(
        F.lit(SCHEMA_VERSION).alias("phenopacketSchemaVersion"),
        F.lit(CREATED).alias("created"),
        F.lit(created_by).alias("createdBy"),
        F.lit(submitted_by).cast("string").alias("submittedBy"),
        resources_col.alias("resources"),
    )
    packet = F.struct(
        pid.alias("id"),
        subject.alias("subject"),
        _nonempty("phenotypicFeatures").alias("phenotypicFeatures"),
        _nonempty("measurements").alias("measurements"),
        _nonempty("interpretations").alias("interpretations"),
        _nonempty("diseases").alias("diseases"),
        _nonempty("medicalActions").alias("medicalActions"),
        meta.alias("metaData"),
    )
    return out.select(
        "subject_id",
        F.to_json(packet, {"ignoreNullFields": "true"}).alias("packet_json"),
    )
