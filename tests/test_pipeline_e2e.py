"""Golden end-to-end pipeline tests — the reference's integration-test
pattern (SURVEY §5.3/5.4) on Spark: multi-table cohort fixtures (FIXTURES.md
F1-F3 shapes) through preprocess → strategies → collect → JSON, plus the
null-saturation robustness fixture (big_null_test analog)."""

import json

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.descriptors import (
    Context,
    ContextKind,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
    TableContext,
    TimeElementType,
)
from phenoxtract_spark.operators import mapping, ontology
from phenoxtract_spark.plans.pipeline import Pipeline
from phenoxtract_spark.plans.strategies import (
    AliasMapStrategy,
    DateToAgeStrategy,
    MappingStrategy,
    MultiHpoColExpansionStrategy,
    OntologyNormaliserStrategy,
)


def sc(ident, kind, **kw):
    ctx_kw = {k: kw.pop(k) for k in ("time_type", "boundary") if k in kw}
    return SeriesContext(
        identifier=Identifier.of(ident) if not kw.pop("rx", False) else Identifier.rx(ident),
        data_context=Context(kind, **ctx_kw),
        **kw,
    )


@pytest.fixture()
def hpo_dim(spark):
    return ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")


def packets_by_id(df):
    return {r["subject_id"]: json.loads(r["packet_json"]) for r in df.collect()}


def test_f1_hpo_in_cells_pipeline(spark, hpo_dim):
    # headerless patients-are-rows table: free-text phenotype labels with an
    # alias sentinel and CURIE passthrough (F1)
    df = spark.createDataFrame(
        [
            ("P001", "fever", "no_info"),
            ("P001", "HYPERtension", "Sinusitis"),
            ("P002", "HP:0031417", None),
        ],
        "`0` string, `1` string, `2` string",
    )
    ctx = TableContext(
        name="csv_data",
        series_contexts=[
            sc("0", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.of(["1", "2"]),
                data_context=Context(ContextKind.HPO),
                alias_map={"no_info": None},
            ),
        ],
    )
    cdf = ContextualizedDataFrame(df=df, context=ctx)
    pipe = Pipeline(cohort="TEST")
    pipe.add_strategy(AliasMapStrategy())
    pipe.add_strategy(OntologyNormaliserStrategy(ontology_dim=hpo_dim))
    out = packets_by_id(pipe.run([cdf]))

    p1 = out["P001"]
    assert p1["id"] == "TEST-P001"
    ids = {f["type_id"] for f in p1["phenotypic_features"]}
    assert ids == {"HP:0001945", "HP:0000822", "HP:0000246"}
    p2 = out["P002"]
    assert [f["type_id"] for f in p2["phenotypic_features"]] == ["HP:0031417"]
    assert p1["meta_data"]["phenopacket_schema_version"] == "2.0"


def test_f2_header_obs_status_with_date_to_age(spark):
    # patients-are-rows post-transpose shape (F2): HPO-id headers hold
    # booleans, a DOB table elsewhere, onset dates → ISO ages via M4
    obs = spark.createDataFrame(
        [
            ("P001", True, False, "10.06.2021"),
            ("P002", None, True, None),
        ],
        "`Patient ID` string, `HP:0012373` boolean, `HP:0031417` boolean, `Date of onset` string",
    )
    obs_ctx = TableContext(
        name="obs",
        series_contexts=[
            sc("Patient ID", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.rx(r"^HP:\d{7}$"),
                data_context=Context(ContextKind.OBSERVATION_STATUS),
                header_context=Context(ContextKind.HPO),
                building_block_id="A",
            ),
            sc("Date of onset", ContextKind.ONSET, time_type=TimeElementType.DATE,
               building_block_id="A"),
        ],
    )
    dob = spark.createDataFrame(
        [("P001", "1990-06-01"), ("P002", "1985-01-01")],
        "pid string, dob string",
    )
    dob_ctx = TableContext(
        name="dob",
        series_contexts=[
            sc("pid", ContextKind.SUBJECT_ID),
            sc("dob", ContextKind.DATE_OF_BIRTH),
        ],
    )
    cdfs = [
        ContextualizedDataFrame(df=obs, context=obs_ctx),
        ContextualizedDataFrame(df=dob, context=dob_ctx),
    ]
    pipe = Pipeline()
    pipe.add_strategy(DateToAgeStrategy())
    out = packets_by_id(pipe.run(cdfs))

    p1 = out["P001"]
    feats = {f["type_id"]: f for f in p1["phenotypic_features"]}
    assert feats["HP:0012373"]["excluded"] is False
    assert feats["HP:0031417"]["excluded"] is True  # observed=false → excluded
    # onset date converted to an ISO age relative to DOB (31 years and 9 days)
    assert feats["HP:0012373"]["onset"]["age"]["iso8601duration"] == "P31Y9D"
    p2 = out["P002"]
    feats2 = {f["type_id"]: f for f in p2["phenotypic_features"]}
    assert set(feats2) == {"HP:0031417"} and feats2["HP:0031417"]["excluded"] is False


def test_f3_multi_hpo_expansion(spark):
    df = spark.createDataFrame(
        [
            ("P001", "had HP:0000001 and HP:0000002 today"),
            ("P002", "nothing found"),
        ],
        "`Patient ID` string, HPOs string",
    )
    ctx = TableContext(
        name="multi",
        series_contexts=[
            sc("Patient ID", ContextKind.SUBJECT_ID),
            sc("HPOs", ContextKind.MULTI_HPO_ID, building_block_id="B"),
        ],
    )
    pipe = Pipeline()
    pipe.add_strategy(MultiHpoColExpansionStrategy())
    out = packets_by_id(pipe.run([ContextualizedDataFrame(df=df, context=ctx)]))
    feats = {f["type_id"] for f in out["P001"]["phenotypic_features"]}
    assert feats == {"HP:0000001", "HP:0000002"}
    assert "phenotypic_features" not in out["P002"] or out["P002"]["phenotypic_features"] == []


def test_individual_fields_and_mapping_strategy(spark):
    demo = spark.createDataFrame(
        [
            ("P001", "m", "Living", "47"),
            ("P002", "woman", "deceased", "33"),
        ],
        "sid string, sex string, vital string, age string",
    )
    ctx = TableContext(
        name="demo",
        series_contexts=[
            sc("sid", ContextKind.SUBJECT_ID),
            sc("sex", ContextKind.SUBJECT_SEX),
            sc("vital", ContextKind.VITAL_STATUS),
            sc("age", ContextKind.TIME_AT_LAST_ENCOUNTER, time_type=TimeElementType.AGE),
        ],
    )
    pipe = Pipeline()
    pipe.add_strategy(MappingStrategy(spark, ContextKind.SUBJECT_SEX, mapping.SEX_MAP))
    pipe.add_strategy(MappingStrategy(spark, ContextKind.VITAL_STATUS, mapping.VITAL_STATUS_MAP))
    from phenoxtract_spark.plans.strategies import AgeToIso8601Strategy

    pipe.add_strategy(AgeToIso8601Strategy())
    out = packets_by_id(pipe.run([ContextualizedDataFrame(df=demo, context=ctx)]))
    s1 = out["P001"]["subject"]
    assert s1["sex"] == "MALE" and s1["vital_status"] == "ALIVE"
    assert s1["time_at_last_encounter"] == "P47Y"
    s2 = out["P002"]["subject"]
    assert s2["sex"] == "FEMALE" and s2["vital_status"] == "DECEASED"


def test_quantitative_measurements(spark):
    labs = spark.createDataFrame(
        [("P001", 5.4, 3.5, 5.0), ("P002", None, None, None)],
        "sid string, wbc double, lo double, hi double",
    )
    ctx = TableContext(
        name="labs",
        series_contexts=[
            sc("sid", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.of("wbc"),
                data_context=Context.quantitative_measurement("LOINC:6690-2", "UO:0000000"),
                building_block_id="L",
            ),
            sc("lo", ContextKind.REFERENCE_RANGE, boundary=__import__(
                "phenoxtract_spark.descriptors", fromlist=["Boundary"]).Boundary.START,
               building_block_id="L"),
            sc("hi", ContextKind.REFERENCE_RANGE, boundary=__import__(
                "phenoxtract_spark.descriptors", fromlist=["Boundary"]).Boundary.END,
               building_block_id="L"),
        ],
    )
    out = packets_by_id(Pipeline().run([ContextualizedDataFrame(df=labs, context=ctx)]))
    m = out["P001"]["measurements"][0]
    assert m["assay_id"] == "LOINC:6690-2" and m["value"] == 5.4
    assert m["ref_low"] == 3.5 and m["ref_high"] == 5.0
    assert out["P002"].get("measurements", []) == []


def test_null_saturation_minimal_packets(spark):
    # big_null_test analog: fully-annotated table, almost every cell null —
    # must still produce valid minimal packets for every subject
    df = spark.createDataFrame(
        [("P1", None, None, None, None), ("P2", None, None, None, None)],
        "sid string, sex string, hpo string, disease string, onset string",
    )
    ctx = TableContext(
        name="nulls",
        series_contexts=[
            sc("sid", ContextKind.SUBJECT_ID),
            sc("sex", ContextKind.SUBJECT_SEX),
            sc("hpo", ContextKind.HPO, building_block_id="A"),
            sc("disease", ContextKind.DISEASE, building_block_id="A"),
            sc("onset", ContextKind.ONSET, building_block_id="A"),
        ],
    )
    out = packets_by_id(Pipeline().run([ContextualizedDataFrame(df=df, context=ctx)]))
    assert set(out) == {"P1", "P2"}
    for p in out.values():
        # to_json elides null fields — minimal packet has no sex key at all
        assert p["subject"].get("sex") is None
        assert p.get("phenotypic_features", []) == []
        assert p["meta_data"]["created_by"] == "phenoxtract-spark"


def test_strategy_gating_noop(spark):
    # M7: strategies whose contexts match nothing must not touch the plan
    df = spark.createDataFrame([("P1", "x")], "sid string, v string")
    ctx = TableContext(name="t", series_contexts=[sc("sid", ContextKind.SUBJECT_ID)])
    cdf = ContextualizedDataFrame(df=df, context=ctx)
    strat = DateToAgeStrategy()
    assert not strat.is_valid([cdf])
    out = packets_by_id(Pipeline(strategies=[strat]).run([cdf]))
    assert set(out) == {"P1"}


def test_file_per_subject_sink(spark, tmp_path):
    df = spark.createDataFrame([("P1", "fever")], "sid string, note string")
    ctx = TableContext(name="t", series_contexts=[sc("sid", ContextKind.SUBJECT_ID)])
    out_dir = str(tmp_path / "packets")
    Pipeline().run_and_load(
        [ContextualizedDataFrame(df=df, context=ctx)], out_dir, file_per_subject=True
    )
    with open(f"{out_dir}/P1.json") as f:
        packet = json.load(f)
    assert packet["id"] == "P1"


def test_golden_transposed_xlsx_with_fill_missing(spark, hpo_dim, tmp_path):
    """Verdict r4 #7a: the one §2 combination not previously exercised in a
    single end-to-end run — a TRANSPOSED xlsx source (S2 typed decode +
    S3 patients-are-columns flip) feeding a ``fill_missing`` declaration
    (§1.1, applied as coalesce) plus alias-map + ontology normalisation,
    all the way to packet JSON."""
    from test_xlsx_reader import build_xlsx, n, s

    from phenoxtract_spark.sources.readers import ExtractionConfig, read_excel

    path = str(tmp_path / "cohort_t.xlsx")
    shared = [
        "patient_id", "P001", "P002",        # 0-2
        "phenotype", "fever", "no_info",     # 3-5
        "survival",                          # 6
    ]
    # patients are COLUMNS: col B = P001, col C = P002
    rows = [
        [s(0), s(1), s(2)],
        [s(3), s(4), s(5)],
        [s(6), None, n(12)],                 # P001 survival missing → fill
    ]
    build_xlsx(path, rows, shared)
    cfg = ExtractionConfig("cohort_t", has_headers=True, patients_are_rows=False)
    df = read_excel(spark, path, cfg)
    assert df.columns == ["patient_id", "phenotype", "survival"]
    assert {r["patient_id"] for r in df.collect()} == {"P001", "P002"}

    ctx = TableContext(
        name="cohort_t",
        series_contexts=[
            sc("patient_id", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.of("phenotype"),
                data_context=Context(ContextKind.HPO),
                alias_map={"no_info": None},
            ),
            SeriesContext(
                identifier=Identifier.of("survival"),
                data_context=Context(ContextKind.SURVIVAL_TIME_DAYS),
                fill_missing="0",
            ),
        ],
    )
    pipe = Pipeline(cohort="GOLD")
    pipe.add_strategy(AliasMapStrategy())
    pipe.add_strategy(OntologyNormaliserStrategy(ontology_dim=hpo_dim))
    out = packets_by_id(pipe.run([ContextualizedDataFrame(df=df, context=ctx)]))

    p1, p2 = out["P001"], out["P002"]
    assert p1["id"] == "GOLD-P001"
    # transposed phenotype cell mapped through the ontology dim
    assert [f["type_id"] for f in p1["phenotypic_features"]] == ["HP:0001945"]
    # alias-map sentinel nulled the P002 phenotype
    assert p2.get("phenotypic_features", []) == []
    # fill_missing coalesced the EMPTY transposed cell to 0 (the cell used
    # to surface as NaN — the r5 vectors_to_df fix keeps it null); the real
    # xlsx numeric 12 survives C2 integral promotion as bigint 12
    assert p1["subject"]["survival_time_days"] == "0"
    assert p2["subject"]["survival_time_days"] == "12"


def test_fill_missing_and_output_type(spark):
    """SURVEY §1.1: fill_missing (declared no-op in the reference) IS
    applied here as coalesce; output_type casts strictly (C4)."""
    from phenoxtract_spark.descriptors import OutputDataType

    df = spark.createDataFrame(
        [("P1", None, "12"), ("P2", "7", None)], "sid string, score string, n string"
    )
    ctx = TableContext(
        name="t",
        series_contexts=[
            sc("sid", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.of("score"),
                data_context=Context(ContextKind.SURVIVAL_TIME_DAYS),
                fill_missing="0",
            ),
            SeriesContext(
                identifier=Identifier.of("n"),
                data_context=Context(ContextKind.NONE),
                output_type=OutputDataType.INT64,
            ),
        ],
    )
    pipe = Pipeline()
    processed = pipe.preprocess([ContextualizedDataFrame(df=df, context=ctx)])
    rows = {r["sid"]: r for r in processed[0].df.collect()}
    assert rows["P1"]["score"] == 0       # filled (ambivalent cast made it bigint)
    assert rows["P2"]["score"] == 7
    assert rows["P1"]["n"] == 12 and dict(processed[0].df.dtypes)["n"] == "bigint"


def test_output_type_strict_cast_error(spark):
    from phenoxtract_spark.descriptors import OutputDataType
    from phenoxtract_spark.functions.casting import CastError

    df = spark.createDataFrame([("P1", "notanumber")], "sid string, n string")
    ctx = TableContext(
        name="t",
        series_contexts=[
            sc("sid", ContextKind.SUBJECT_ID),
            SeriesContext(
                identifier=Identifier.of("n"),
                data_context=Context(ContextKind.NONE),
                output_type=OutputDataType.FLOAT64,
            ),
        ],
    )
    with pytest.raises(CastError):
        Pipeline().preprocess([ContextualizedDataFrame(df=df, context=ctx)])


def _plan_leaves(df):
    """(class name, RDD lineage or '') of every leaf of the optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.getClass().getSimpleName()
        out.append((name, leaf.rdd().toDebugString() if name == "LogicalRDD" else ""))
    return out


@pytest.mark.parametrize("with_strategies", [True, False])
def test_transform_ends_in_one_barrier_per_table(spark, hpo_dim, tmp_path, with_strategies):
    """After ``Pipeline.transform`` each table's plan reads only its
    materialized rows: no CSV file scan, and no Python RDD from the ingest
    row numbering, is left for the collectors and the sink to re-run —
    also when no strategy is valid."""
    from phenoxtract_spark.sources.readers import ExtractionConfig, read_csv

    path = tmp_path / "cohort.csv"
    path.write_text("pid,sex,hpo\nP1,m,fever\nP2,female,no_info\n")
    df = read_csv(spark, str(path), ExtractionConfig("cohort"), attach_rownum=True)
    ctx = TableContext(
        name="cohort",
        series_contexts=[
            sc("pid", ContextKind.SUBJECT_ID),
            sc("sex", ContextKind.SUBJECT_SEX),
            SeriesContext(
                identifier=Identifier.of("hpo"),
                data_context=Context(ContextKind.HPO),
                alias_map={"no_info": None},
            ),
        ],
    )
    strategies = [
        AliasMapStrategy(),
        OntologyNormaliserStrategy(ontology_dim=hpo_dim),
        MappingStrategy(spark, ContextKind.SUBJECT_SEX, mapping.SEX_MAP),
    ] if with_strategies else []
    pipe = Pipeline(strategies=strategies)
    cdfs = pipe.transform(pipe.preprocess([ContextualizedDataFrame(df=df, context=ctx)]))
    for cdf in cdfs:
        leaves = _plan_leaves(cdf.df)
        assert [name for name, _ in leaves] == ["LogicalRDD"], leaves
        lineage = leaves[0][1]
        assert "FileScanRDD" not in lineage and "PythonRDD" not in lineage, lineage
    rows = {r["pid"]: r for r in cdfs[0].df.collect()}
    assert set(rows) == {"P1", "P2"}
    if with_strategies:
        assert rows["P1"]["sex"] == "MALE" and rows["P1"]["hpo"] == "HP:0001945"
        assert rows["P2"]["hpo"] is None
