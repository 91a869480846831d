"""Full-cohort golden test — the analog of the reference's flagship
integration test (test_pipeline_integration.rs:184-322): four annotated
tables (demographics, free-text phenotypes, transposed-style obs-status
headers, labs+disease), the full strategy stack, and exact assertions on
the assembled packets."""

import json

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
from phenoxtract_spark.errors import ErrorLedger
from phenoxtract_spark.operators import mapping, ontology
from phenoxtract_spark.plans.pipeline import Pipeline
from phenoxtract_spark.plans.strategies import (
    AliasMapStrategy,
    DateToAgeStrategy,
    MappingStrategy,
    MultiHpoColExpansionStrategy,
    OntologyNormaliserStrategy,
)

# shuffle exchanges of the full-cohort flat packets, counted as in
# test_plan_shapes
FULL_COHORT_MAX_EX = 9


def sc(ident, kind, **kw):
    ctx_kw = {k: kw.pop(k) for k in ("time_type", "boundary", "assay_id", "unit_ontology_id") if k in kw}
    return SeriesContext(identifier=Identifier.of(ident), data_context=Context(kind, **ctx_kw), **kw)


@pytest.fixture(scope="module")
def cohort(spark):
    demo = spark.createDataFrame(
        [
            ("P001", "m", "alive", "1980-03-15"),
            ("P002", "woman", "deceased", "1975-11-02"),
        ],
        "pid string, sex string, vital string, dob string",
    )
    demo_ctx = TableContext(
        "demographics",
        [
            sc("pid", ContextKind.SUBJECT_ID),
            sc("sex", ContextKind.SUBJECT_SEX),
            sc("vital", ContextKind.VITAL_STATUS),
            sc("dob", ContextKind.DATE_OF_BIRTH),
        ],
    )
    pheno = spark.createDataFrame(
        [
            ("P001", "fever", "no_info"),
            ("P001", "Rhinorrhea", None),
            ("P002", "HP:0000822", "Cough"),
        ],
        "pid string, hpo1 string, hpo2 string",
    )
    pheno_ctx = TableContext(
        "phenotypes",
        [
            sc("pid", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.of(["hpo1", "hpo2"]),
                data_context=Context(ContextKind.HPO),
                alias_map={"no_info": None},
                building_block_id="PH",
            ),
        ],
    )
    obs = spark.createDataFrame(
        [
            ("P001", True, "2011-06-10"),
            ("P002", False, None),
        ],
        "pid string, `HP:0000246` boolean, onset_date string",
    )
    obs_ctx = TableContext(
        "obs_status",
        [
            sc("pid", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.rx(r"^HP:\d{7}$"),
                data_context=Context(ContextKind.OBSERVATION_STATUS),
                header_context=Context(ContextKind.HPO),
                building_block_id="OB",
            ),
            sc("onset_date", ContextKind.ONSET, time_type=TimeElementType.DATE,
               building_block_id="OB"),
        ],
    )
    labs = spark.createDataFrame(
        [
            ("P001", 5.4, 3.5, 5.0, "type 2 diabetes mellitus", "BRCA1", "c.68_69delAG", None),
            ("P002", None, None, None, "asthma", None, "c.1A>G", "c.2T>C"),
        ],
        "pid string, wbc double, lo double, hi double, dx string, gene string, var1 string, var2 string",
    )
    labs_ctx = TableContext(
        "labs",
        [
            sc("pid", ContextKind.SUBJECT_ID),
            sc("wbc", ContextKind.QUANTITATIVE_MEASUREMENT, assay_id="LOINC:6690-2",
               unit_ontology_id="UO:1", building_block_id="L"),
            sc("lo", ContextKind.REFERENCE_RANGE, boundary=Boundary.START, building_block_id="L"),
            sc("hi", ContextKind.REFERENCE_RANGE, boundary=Boundary.END, building_block_id="L"),
            sc("dx", ContextKind.DISEASE, building_block_id="DX"),
            sc("gene", ContextKind.HGNC, building_block_id="DX"),
            SeriesContext(
                identifier=Identifier.of(["var1", "var2"]),
                data_context=Context(ContextKind.HGVS),
                building_block_id="DX",
            ),
        ],
    )
    return [
        ContextualizedDataFrame(demo, demo_ctx),
        ContextualizedDataFrame(pheno, pheno_ctx),
        ContextualizedDataFrame(obs, obs_ctx),
        ContextualizedDataFrame(labs, labs_ctx),
    ]


def _full_pipeline(spark) -> Pipeline:
    hpo_dim = ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")
    mondo_dim = ontology.bidict_dim(spark, ontology.MINI_MONDO).select("key", "id")
    pipe = Pipeline(cohort="COH")
    pipe.add_strategy(AliasMapStrategy())
    pipe.add_strategy(MappingStrategy(spark, ContextKind.SUBJECT_SEX, mapping.SEX_MAP))
    pipe.add_strategy(MappingStrategy(spark, ContextKind.VITAL_STATUS, mapping.VITAL_STATUS_MAP))
    pipe.add_strategy(OntologyNormaliserStrategy(ontology_dim=hpo_dim, kinds=(ContextKind.HPO,)))
    pipe.add_strategy(OntologyNormaliserStrategy(ontology_dim=mondo_dim, kinds=(ContextKind.DISEASE,)))
    pipe.add_strategy(DateToAgeStrategy())
    return pipe


def test_full_cohort_packets(spark, cohort):
    pipe = _full_pipeline(spark)
    out = {r["subject_id"]: json.loads(r["packet_json"]) for r in pipe.run(cohort).collect()}
    assert set(out) == {"P001", "P002"}

    p1 = out["P001"]
    assert p1["id"] == "COH-P001"
    assert p1["subject"]["sex"] == "MALE"
    assert p1["subject"]["vital_status"] == "ALIVE"
    assert p1["subject"]["date_of_birth"] == "1980-03-15"
    feats = {f["type_id"]: f for f in p1["phenotypic_features"]}
    # free-text labels normalized to CURIEs; alias 'no_info' → dropped
    assert set(feats) == {"HP:0001945", "HP:0031417", "HP:0000246"}
    # header-sourced observed=True feature carries date→age onset (2011-06-10
    # minus DOB 1980-03-15 = 31y2m26d)
    assert feats["HP:0000246"]["excluded"] is False
    assert feats["HP:0000246"]["onset"]["age"]["iso8601duration"] == "P31Y2M26D"
    m = p1["measurements"][0]
    assert (m["assay_id"], m["value"], m["unit"], m["ref_low"], m["ref_high"]) == (
        "LOINC:6690-2", 5.4, "UO:1", 3.5, 5.0,
    )
    d1 = p1["diseases"][0]
    assert d1["term_id"] == "MONDO:0005148"
    # G8: gene + one variant → SINGLE; id = '{subject}-{disease}'
    i1 = p1["interpretations"][0]
    assert i1["disease_id"] == "MONDO:0005148"
    assert i1["genomic_interpretations"][0]["status"] == "SINGLE"
    # G11: meta_data.resources = distinct CURIE prefixes used in the packet
    assert p1["meta_data"]["resources"] == ["hp", "mondo"]

    p2 = out["P002"]
    assert p2["subject"]["sex"] == "FEMALE" and p2["subject"]["vital_status"] == "DECEASED"
    feats2 = {f["type_id"]: f for f in p2["phenotypic_features"]}
    # obs=false → excluded feature; labels HP:0000822 (id passthrough) + Cough
    assert feats2["HP:0000246"]["excluded"] is True
    assert set(feats2) == {"HP:0000822", "HP:0012735", "HP:0000246"}
    assert p2.get("measurements", []) == []
    assert p2["diseases"][0]["term_id"] == "MONDO:0004979"
    # two distinct variants, no gene → COMPOUND_HET
    gi2 = p2["interpretations"][0]["genomic_interpretations"][0]
    assert gi2["status"] == "COMPOUND_HET"


def test_full_cohort_ledger_catches_bad_rows(spark, cohort):
    hpo_dim = ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")
    ledger = ErrorLedger()
    pipe = Pipeline()
    pipe.add_strategy(AliasMapStrategy())
    pipe.add_strategy(
        OntologyNormaliserStrategy(ontology_dim=hpo_dim, kinds=(ContextKind.HPO,))
    )
    bad = spark.createDataFrame(
        [("P009", "unknown phenotype xyz", None)], "pid string, hpo1 string, hpo2 string"
    )
    bad_cdf = ContextualizedDataFrame(bad, cohort[1].context)
    from phenoxtract_spark.errors import PipelineValidationError

    with pytest.raises(PipelineValidationError) as e:
        pipe.run([bad_cdf])
    assert "unknown phenotype xyz" in str(e.value)


def test_full_cohort_plan_folds_resources_into_the_sections(spark, cohort):
    """meta_data.resources comes from the feature and disease aggregates;
    a separate prefix pipeline (union, groupBy, join) cost an exchange."""
    from test_plan_shapes import _shape

    js = _full_pipeline(spark).run(cohort)
    assert _shape(js.select("*"))["ex"] <= FULL_COHORT_MAX_EX


def test_header_hpo_resources_count_only_observed_cells(spark, cohort):
    # G11: a header-HPO term is in a packet only where the subject's cell
    # holds an observation, so an all-null row cites no resource
    obs = spark.createDataFrame(
        [("P001", True, None), ("P003", None, None)],
        "pid string, `HP:0000246` boolean, onset_date string",
    )
    cdf = ContextualizedDataFrame(obs, cohort[2].context)
    out = {
        r["subject_id"]: json.loads(r["packet_json"])
        for r in Pipeline().run([cdf]).collect()
    }
    assert out["P001"]["meta_data"]["resources"] == ["hp"]
    assert out["P003"]["phenotypic_features"] == []
    assert out["P003"]["meta_data"]["resources"] == []
