"""EP1 parity: config dict → compiled Pipeline → packets, including a
file-loaded JSON config with ${ENV} expansion."""

import json

import pytest

from phenoxtract_spark.descriptors import ContextualizedDataFrame
from phenoxtract_spark.operators import ontology
from phenoxtract_spark.operators.grouping import MultiplicityError
from phenoxtract_spark.plans.config import ConfigError, compile_pipeline, run_from_config
from phenoxtract_spark.sources.readers import load_config

CONFIG = {
    "cohort": "CFG",
    "tables": {
        "demo": {
            "subject_id": "pid",
            "columns": [
                {"identifier": "sex", "context": "subject_sex"},
                {
                    "identifier": {"multi": ["hpo1", "hpo2"]},
                    "context": "hpo",
                    "alias_map": {"no_info": None},
                    "building_block": "A",
                },
                {
                    "identifier": "age",
                    "context": {"kind": "time_at_last_encounter", "time_type": "age"},
                },
            ],
        }
    },
    "strategies": [
        {"kind": "alias_map"},
        {"kind": "mapping", "context": "subject_sex",
         "dictionary": {"m": "MALE", "f": "FEMALE"}},
        {"kind": "ontology_normaliser", "ontology": "hpo", "contexts": ["hpo"]},
        {"kind": "age_to_iso8601"},
    ],
}


def _tables(spark):
    return {
        "demo": spark.createDataFrame(
            [("P1", "m", "fever", "no_info", "47")],
            "pid string, sex string, hpo1 string, hpo2 string, age string",
        )
    }


def test_config_compiles_and_runs(spark):
    dims = {"hpo": ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")}
    out = run_from_config(CONFIG, spark, _tables(spark), dims)
    packets = {r["subject_id"]: json.loads(r["packet_json"]) for r in out.collect()}
    p = packets["P1"]
    assert p["id"] == "CFG-P1"
    assert p["subject"]["sex"] == "MALE"
    assert p["subject"]["time_at_last_encounter"] == "P47Y"
    assert [f["type_id"] for f in p["phenotypic_features"]] == ["HP:0001945"]


def test_config_from_json_file(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("PXS_COHORT", "ENVC")
    cfg = dict(CONFIG, cohort="${PXS_COHORT}")
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(cfg))
    loaded = load_config(str(path))
    assert loaded["cohort"] == "ENVC"
    dims = {"hpo": ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")}
    out = run_from_config(loaded, spark, _tables(spark), dims)
    assert out.collect()[0]["packet_json"].startswith('{"id":"ENVC-P1"')


def test_config_errors(spark):
    with pytest.raises(ConfigError, match="unknown context kind"):
        compile_pipeline(
            {"tables": {"t": {"columns": [{"identifier": "x", "context": "bogus"}]}}},
            spark,
        )
    with pytest.raises(ConfigError, match="unknown ontology dimension"):
        compile_pipeline(
            {"strategies": [{"kind": "ontology_normaliser", "ontology": "nope"}]}, spark
        )
    with pytest.raises(ConfigError, match="no DataFrame supplied"):
        run_from_config({"tables": {"t": {"subject_id": "x"}}}, spark, {})


def _dob_conflict_ages(spark, strict):
    """Onset ages after a config-declared ``date_to_age`` over a table in
    which P1 has two distinct DOBs and P2 has one."""
    cfg = {
        "tables": {"demo": {"subject_id": "pid", "columns": [
            {"identifier": "dob", "context": "date_of_birth"},
            {"identifier": "onset", "context": {"kind": "onset", "time_type": "date"}},
        ]}},
        "strategies": [{"kind": "date_to_age", "strict": strict}],
    }
    pipe, contexts = compile_pipeline(cfg, spark)
    df = spark.createDataFrame(
        [("P1", "1990-06-01", "2020-06-01"), ("P1", "1991-01-01", "2020-06-01"),
         ("P2", "1980-01-01", "2020-01-01")],
        "pid string, dob string, onset string",
    )
    cdfs = pipe.preprocess([ContextualizedDataFrame(df=df, context=contexts["demo"])])
    return [(r["pid"], r["onset"]) for r in pipe.transform(cdfs)[0].df.orderBy("pid").collect()]


def test_date_to_age_strict_from_config(spark):
    # lenient: the conflicting subject gets no DOB, so no age; others convert
    assert _dob_conflict_ages(spark, strict=False) == [
        ("P1", None), ("P1", None), ("P2", "P40Y"),
    ]
    with pytest.raises(MultiplicityError, match="P1"):
        _dob_conflict_ages(spark, strict=True)
