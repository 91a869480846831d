"""Golden parity against the reference's OWN integration fixtures.

Inputs are verbatim copies of
``/root/reference/integration_tests/tests/assets/`` (integration_test +
big_null_test): 5 CSVs + 1 xlsx through the full pipeline must reproduce
``expected_P001..P008.json`` byte-for-byte after the reference's volatile
field normalization (``test_suite/utils.rs:22-66`` semantics: drop
metaData.created, variationDescriptor.id → TEST_ID, loinc version → '-',
ensure vitalStatus.survivalTimeInDays).  Table/strategy configuration
mirrors ``test_pipeline_integration.rs:36-322`` / ``big_null_test.rs``.
Ontology/HGNC/HGVS lookups come from the offline ``golden_dims.json``
fixture — the test-cache analog of the reference's registry (no network).
"""

import json
import os

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.descriptors import (
    Boundary,
    Context,
    ContextKind,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
    TableContext,
    TimeElementType,
)
from phenoxtract_spark.operators import ontology
from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2
from phenoxtract_spark.plans.pipeline import Pipeline
from phenoxtract_spark.plans.strategies import (
    AgeToIso8601Strategy,
    AliasMapStrategy,
    DateToAgeStrategy,
    MappingStrategy,
    MultiHpoColExpansionStrategy,
    OntologyNormaliserStrategy,
)
from phenoxtract_spark.sources.readers import (
    ExtractionConfig,
    attach_ingest_rownum,
    read_csv,
    read_excel,
)

ASSETS = os.path.join(os.path.dirname(__file__), "assets")
IT = os.path.join(ASSETS, "integration_test")
# shuffle exchanges of the golden v2 render, counted as in test_plan_shapes
GOLDEN_RENDER_MAX_EX = 10


def sc(ident, kind, **kw):
    ctx_kw = {
        k: kw.pop(k)
        for k in ("time_type", "boundary", "assay_id", "unit_ontology_id")
        if k in kw
    }
    return SeriesContext(
        identifier=Identifier.of(ident) if not isinstance(ident, Identifier) else ident,
        data_context=Context(kind, **ctx_kw),
        **kw,
    )


@pytest.fixture(scope="module")
def dims(spark):
    with open(os.path.join(IT, "golden_dims.json")) as f:
        raw = json.load(f)

    def terms(key):
        return [
            ontology.OntologyTerm(t["id"], t["label"], tuple(t["synonyms"]))
            for t in raw[key]
        ]

    # X6: the HPO bidict comes from a PARSED mini-ontology file (OBO), not a
    # hand-built fixture — ontology_factory parse + parquet-cache path
    hpo_terms = ontology.parse_obo(os.path.join(IT, "mini_hp.obo"))
    hpo = ontology.bidict_dim(spark, hpo_terms, resource="hp")
    mondo = ontology.bidict_dim(spark, terms("mondo"), resource="mondo")
    pato = ontology.bidict_dim(spark, terms("pato"), resource="pato")
    all_terms = (
        hpo_terms + terms("mondo") + terms("uo") + terms("pato") + terms("loinc")
    )
    labels = spark.createDataFrame(
        [(t.id, t.label) for t in all_terms], "id string, label string"
    )
    hgnc = spark.createDataFrame(
        list(raw["hgnc"].items()), "symbol string, hgnc_id string"
    )
    hgvs = spark.createDataFrame(
        [
            (
                k,
                [(e["syntax"], e["value"]) for e in v["expressions"]],
                (
                    v["vcf"]["genome_assembly"],
                    v["vcf"]["chrom"],
                    v["vcf"]["pos"],
                    v["vcf"]["ref"],
                    v["vcf"]["alt"],
                ),
            )
            for k, v in raw["hgvs"].items()
        ],
        "hgvs string, expressions array<struct<syntax:string,value:string>>,"
        "vcf struct<genome_assembly:string,chrom:string,pos:bigint,ref:string,alt:string>",
    )
    return {
        "hpo": hpo,
        "mondo": mondo,
        "pato": pato,
        "labels": labels,
        "hgnc": hgnc,
        "hgvs": hgvs,
        "resources": raw["resources"],
    }


VITAL_ALIASES = {"Yes": "ALIVE", "No": "DECEASED"}
NO_INFO_ALIAS = {"no_info": None}


def _cohort_cdfs(spark):
    """The six data sources with their table contexts, mirroring
    test_pipeline_integration.rs fixtures in declaration order."""
    inp = os.path.join(IT, "input_data")
    csv1 = read_csv(
        spark, os.path.join(inp, "csv_data.csv"),
        ExtractionConfig("CSV_Table", has_headers=False, patients_are_rows=True),
        attach_rownum=True,
    )
    ctx1 = TableContext(
        "CSV_Table",
        [
            sc("0", ContextKind.SUBJECT_ID),
            sc(["1", "2"], ContextKind.HPO, alias_map=NO_INFO_ALIAS),
        ],
    )
    csv2 = read_csv(
        spark, os.path.join(inp, "csv_data_2.csv"),
        ExtractionConfig("CSV_Table_2", has_headers=True, patients_are_rows=False),
        attach_rownum=True,
    )
    ctx2 = TableContext(
        "CSV_Table_2",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("HP:0012373", ContextKind.OBSERVATION_STATUS,
               header_context=Context(ContextKind.HPO), building_block_id="A"),
            sc("Rhinorrhea", ContextKind.OBSERVATION_STATUS,
               header_context=Context(ContextKind.HPO), building_block_id="A"),
            sc("Date of onset", ContextKind.ONSET,
               time_type=TimeElementType.DATE, building_block_id="A"),
        ],
    )
    csv3 = read_csv(
        spark, os.path.join(inp, "csv_data_3.csv"),
        ExtractionConfig("CSV_Table_3", has_headers=True, patients_are_rows=False),
        attach_rownum=True,
    )
    ctx3 = TableContext(
        "CSV_Table_3",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("HPOs", ContextKind.MULTI_HPO_ID, building_block_id="B"),
            sc("Date of onset", ContextKind.ONSET,
               time_type=TimeElementType.DATE, building_block_id="B"),
        ],
    )
    csv4 = read_csv(
        spark, os.path.join(inp, "csv_data_4.csv"),
        ExtractionConfig("CSV_Table_4", has_headers=True, patients_are_rows=True),
        attach_rownum=True,
    )
    ctx4 = TableContext(
        "CSV_Table_4",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("diseases", ContextKind.DISEASE, building_block_id="C"),
            sc("disease_onset", ContextKind.ONSET,
               time_type=TimeElementType.AGE, building_block_id="C"),
            sc("gene", ContextKind.HGNC, building_block_id="C"),
            sc(["hgvs1", "hgvs2"], ContextKind.HGVS, building_block_id="C"),
        ],
    )
    csv5 = read_csv(
        spark, os.path.join(inp, "csv_data_5.csv"),
        ExtractionConfig("CSV_Table_5", has_headers=True, patients_are_rows=True),
        attach_rownum=True,
    )
    ctx5 = TableContext(
        "CSV_Table_5",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("height (cm)", ContextKind.QUANTITATIVE_MEASUREMENT,
               assay_id="LOINC:8302-2", unit_ontology_id="UO:0000015",
               building_block_id="M"),
            sc("ref_low", ContextKind.REFERENCE_RANGE,
               boundary=Boundary.START, building_block_id="M"),
            sc("ref_high", ContextKind.REFERENCE_RANGE,
               boundary=Boundary.END, building_block_id="M"),
            sc("nitrates in urine", ContextKind.QUALITATIVE_MEASUREMENT,
               assay_id="LOINC:5802-4", building_block_id="M"),
            sc("date_of_observation", ContextKind.TIME_OF_MEASUREMENT,
               time_type=TimeElementType.DATE, building_block_id="M"),
        ],
    )
    xlsx = os.path.join(inp, "excel_data.xlsx")
    basic = attach_ingest_rownum(
        read_excel(spark, xlsx,
                   ExtractionConfig("basic info", True, True), sheet="basic info")
    )
    ctx_basic = TableContext(
        "basic info",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("Sex", ContextKind.SUBJECT_SEX),
            sc("Living", ContextKind.VITAL_STATUS, alias_map=VITAL_ALIASES),
            sc("DOB", ContextKind.DATE_OF_BIRTH),
            sc("Age of death", ContextKind.TIME_OF_DEATH,
               time_type=TimeElementType.AGE),
            sc("Survival time since diagnosis (days)", ContextKind.SURVIVAL_TIME_DAYS),
        ],
    )
    conditions = attach_ingest_rownum(
        read_excel(spark, xlsx,
                   ExtractionConfig("conditions", True, False), sheet="conditions")
    )
    ctx_cond = TableContext(
        "conditions",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("Phenotypic Features", ContextKind.HPO, building_block_id="C"),
            sc("Age of onset", ContextKind.ONSET,
               time_type=TimeElementType.AGE, building_block_id="C"),
        ],
    )
    more = attach_ingest_rownum(
        read_excel(spark, xlsx,
                   ExtractionConfig("more conditions", True, False),
                   sheet="more conditions")
    )
    ctx_more = TableContext(
        "more conditions",
        [
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc(Identifier.rx(r"Phenotypic Features \d+"), ContextKind.HPO),
        ],
    )
    return [
        ContextualizedDataFrame(csv1, ctx1),
        ContextualizedDataFrame(csv2, ctx2),
        ContextualizedDataFrame(csv3, ctx3),
        ContextualizedDataFrame(csv4, ctx4),
        ContextualizedDataFrame(csv5, ctx5),
        ContextualizedDataFrame(basic, ctx_basic),
        ContextualizedDataFrame(conditions, ctx_cond),
        ContextualizedDataFrame(more, ctx_more),
    ]


def normalize_packet(pp: dict) -> dict:
    """Volatile-field normalization (~ test_suite/utils.rs:22-66 +
    lib.rs assert_phenopackets)."""
    pp = json.loads(json.dumps(pp))  # deep copy
    pp.get("metaData", {}).pop("created", None)
    for interp in pp.get("interpretations", []):
        for gi in interp.get("diagnosis", {}).get("genomicInterpretations", []):
            vd = gi.get("variantInterpretation", {}).get("variationDescriptor")
            if vd is not None:
                vd["id"] = "TEST_ID"
    for res in pp.get("metaData", {}).get("resources", []):
        if res.get("id") == "loinc":
            res["version"] = "-"
    vs = pp.get("subject", {}).get("vitalStatus")
    if vs is not None and "survivalTimeInDays" not in vs:
        vs["survivalTimeInDays"] = 0
    return pp


def _run_golden(spark, dims):
    cdfs = _cohort_cdfs(spark)
    pipe = Pipeline(cohort="my_cohort")
    pipe.add_strategy(AliasMapStrategy())
    pipe.add_strategy(
        OntologyNormaliserStrategy(ontology_dim=dims["hpo"], kinds=(ContextKind.HPO,))
    )
    pipe.add_strategy(
        OntologyNormaliserStrategy(
            ontology_dim=dims["pato"], kinds=(ContextKind.QUALITATIVE_MEASUREMENT,)
        )
    )
    # the reference normalizes diseases inside the builder via the mondo
    # bidict (ctx_builder.add_disease_bidict); same rewrite as a strategy
    pipe.add_strategy(
        OntologyNormaliserStrategy(
            ontology_dim=dims["mondo"], kinds=(ContextKind.DISEASE,)
        )
    )
    pipe.add_strategy(DateToAgeStrategy(strict=True))
    from phenoxtract_spark.operators import mapping

    pipe.add_strategy(MappingStrategy(spark, ContextKind.SUBJECT_SEX, mapping.SEX_MAP))
    pipe.add_strategy(AgeToIso8601Strategy())
    pipe.add_strategy(MultiHpoColExpansionStrategy())

    cdfs = pipe.preprocess(cdfs)
    cdfs = pipe.transform(cdfs)
    return render_packets_v2(
        cdfs,
        labels_dim=dims["labels"],
        hgnc_dim=dims["hgnc"],
        hgvs_dim=dims["hgvs"],
        resources=dims["resources"],
        cohort="my_cohort",
        created_by="Integration Test",
        submitted_by="Someone",
    )


@pytest.fixture(scope="module")
def golden_render(spark, dims):
    return _run_golden(spark, dims)


@pytest.fixture(scope="module")
def golden_packets(golden_render):
    return {r["subject_id"]: json.loads(r["packet_json"]) for r in golden_render.collect()}


def test_golden_render_plan_builds_each_section_once(golden_render):
    """Each v2 section is one groupBy(subject_id) that also folds its
    resource prefixes; a second per-section prefix pipeline (union,
    distinct, resource join, groupBy) doubled the exchanges."""
    from test_plan_shapes import _shape

    # a fresh Dataset, so the plan is the static one even after a collect
    assert _shape(golden_render.select("*"))["ex"] <= GOLDEN_RENDER_MAX_EX


@pytest.mark.parametrize("pid", [f"P{n:03d}" for n in range(1, 9)])
def test_golden_packet_matches_reference(golden_packets, pid):
    with open(os.path.join(IT, "expected_phenopackets", f"expected_{pid}.json")) as f:
        expected = normalize_packet(json.load(f))
    actual = normalize_packet(golden_packets[pid])
    assert actual == expected, (
        f"{pid} mismatch:\nACTUAL:   {json.dumps(actual, indent=1, sort_keys=True)}\n"
        f"EXPECTED: {json.dumps(expected, indent=1, sort_keys=True)}"
    )


def test_big_null_minimal_packets(spark, dims):
    """big_null_test.rs: a table where every annotated column is entirely
    null must yield minimal-but-valid packets."""
    bn = os.path.join(ASSETS, "big_null_test")
    df = read_csv(
        spark, os.path.join(bn, "input_data", "data.csv"),
        ExtractionConfig("CSV_Table", True, True), attach_rownum=True,
    )
    ctx = TableContext(
        "CSV_Table",
        [
            sc("patient_id", ContextKind.SUBJECT_ID),
            sc("date_of_birth", ContextKind.DATE_OF_BIRTH),
            sc("age_at_last_encounter", ContextKind.TIME_AT_LAST_ENCOUNTER,
               time_type=TimeElementType.AGE),
            sc("date_at_last_encounter", ContextKind.TIME_AT_LAST_ENCOUNTER,
               time_type=TimeElementType.DATE),
            sc("sex", ContextKind.SUBJECT_SEX),
            sc("vital_status", ContextKind.VITAL_STATUS, alias_map=VITAL_ALIASES),
            sc("age_of_death", ContextKind.TIME_OF_DEATH, time_type=TimeElementType.AGE),
            sc("date_of_death", ContextKind.TIME_OF_DEATH, time_type=TimeElementType.DATE),
            sc("cause_of_death", ContextKind.CAUSE_OF_DEATH),
            sc("survival_time_in_days", ContextKind.SURVIVAL_TIME_DAYS),
            sc("phenotype", ContextKind.HPO, building_block_id="P1"),
            sc("multi_hpo", ContextKind.MULTI_HPO_ID, building_block_id="P1"),
            sc("phenotype_onset_age", ContextKind.ONSET,
               time_type=TimeElementType.AGE, building_block_id="P1"),
            sc("HP:1234567", ContextKind.OBSERVATION_STATUS,
               header_context=Context(ContextKind.HPO), building_block_id="P2"),
            sc("HP:1234567_onset_date", ContextKind.ONSET,
               time_type=TimeElementType.AGE, building_block_id="P2"),
            sc("disease", ContextKind.DISEASE, building_block_id="D1"),
            sc("disease_onset_age", ContextKind.ONSET,
               time_type=TimeElementType.AGE, building_block_id="D1"),
            sc("gene", ContextKind.HGNC, building_block_id="D1"),
            sc(["hgvs1", "hgvs2"], ContextKind.HGVS, building_block_id="D1"),
            sc("disease2", ContextKind.DISEASE, building_block_id="D2"),
            sc("disease2_onset_date", ContextKind.ONSET,
               time_type=TimeElementType.DATE, building_block_id="D2"),
            sc("body_height_cm", ContextKind.QUANTITATIVE_MEASUREMENT,
               assay_id="LOINC:8302-2", unit_ontology_id="UO:0000015",
               building_block_id="M1"),
            sc("body_height_cm_measurement_age", ContextKind.TIME_OF_MEASUREMENT,
               time_type=TimeElementType.AGE, building_block_id="M1"),
            sc("nitrate_presence", ContextKind.QUALITATIVE_MEASUREMENT,
               assay_id="LOINC:5802-4", building_block_id="M2"),
            sc("nitrate_presence_measurement_date", ContextKind.TIME_OF_MEASUREMENT,
               time_type=TimeElementType.DATE, building_block_id="M2"),
        ],
    )
    pipe = Pipeline(cohort="my_cohort")
    pipe.add_strategy(AliasMapStrategy())
    pipe.add_strategy(
        OntologyNormaliserStrategy(
            ontology_dim=dims["pato"], kinds=(ContextKind.QUALITATIVE_MEASUREMENT,)
        )
    )
    pipe.add_strategy(DateToAgeStrategy(strict=True))
    from phenoxtract_spark.operators import mapping

    pipe.add_strategy(MappingStrategy(spark, ContextKind.SUBJECT_SEX, mapping.SEX_MAP))
    pipe.add_strategy(AgeToIso8601Strategy())
    pipe.add_strategy(MultiHpoColExpansionStrategy())
    cdfs = pipe.preprocess([ContextualizedDataFrame(df, ctx)])
    cdfs = pipe.transform(cdfs)
    out = render_packets_v2(
        cdfs,
        labels_dim=dims["labels"],
        hgnc_dim=dims["hgnc"],
        hgvs_dim=dims["hgvs"],
        resources=dims["resources"],
        cohort="my_cohort",
        created_by="Big Null Test",
        submitted_by="Someone",
    )
    actual = {r["subject_id"]: json.loads(r["packet_json"]) for r in out.collect()}
    for pid in ("P1", "P2"):
        with open(
            os.path.join(bn, "expected_phenopackets", f"expected_{pid}.json")
        ) as f:
            expected = normalize_packet(json.load(f))
        assert normalize_packet(actual[pid]) == expected, (pid, actual[pid])
