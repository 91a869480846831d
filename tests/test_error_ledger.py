"""Deferred error ledger: multiple strict strategies validate in ONE job
with a combined report; clean data passes silently."""

import pytest

from phenoxtract_spark.descriptors import (
    Context,
    ContextKind,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
    TableContext,
)
from phenoxtract_spark.errors import ErrorLedger, PipelineValidationError
from phenoxtract_spark.operators import mapping, ontology
from phenoxtract_spark.plans.pipeline import Pipeline
from phenoxtract_spark.plans.strategies import MappingStrategy, OntologyNormaliserStrategy


def _cdf(spark, rows):
    df = spark.createDataFrame(rows, "sid string, sex string, hpo string")
    ctx = TableContext(
        name="t",
        series_contexts=[
            SeriesContext(identifier=Identifier.of("sid"), data_context=Context.subject_id()),
            SeriesContext(identifier=Identifier.of("sex"), data_context=Context(ContextKind.SUBJECT_SEX)),
            SeriesContext(identifier=Identifier.of("hpo"), data_context=Context(ContextKind.HPO)),
        ],
    )
    return ContextualizedDataFrame(df=df, context=ctx)


def _pipe(spark, ledger):
    hpo_dim = ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")
    pipe = Pipeline()
    pipe.add_strategy(
        MappingStrategy(spark, ContextKind.SUBJECT_SEX, mapping.SEX_MAP)
    )
    pipe.add_strategy(
        OntologyNormaliserStrategy(ontology_dim=hpo_dim, kinds=(ContextKind.HPO,))
    )
    return pipe


def test_combined_report_lists_every_failing_check(spark):
    ledger = ErrorLedger()
    pipe = _pipe(spark, ledger)
    bad = _cdf(spark, [("P1", "marsian", "not_a_phenotype")])
    with pytest.raises(PipelineValidationError) as e:
        pipe.run([bad])
    failures = e.value.failures
    assert any(k.startswith("unmapped:sex") for k in failures)
    assert any(k.startswith("unmapped_ontology:hpo") for k in failures)
    assert "marsian" in str(e.value) and "not_a_phenotype" in str(e.value)


def test_clean_data_passes_in_deferred_mode(spark):
    ledger = ErrorLedger()
    pipe = _pipe(spark, ledger)
    ok = _cdf(spark, [("P1", "male", "Fever")])
    out = {r["subject_id"] for r in pipe.run([ok]).collect()}
    assert out == {"P1"}


def test_ledger_is_single_use_and_reusable(spark):
    ledger = ErrorLedger()
    df = spark.createDataFrame([("x",)], "v string")
    ledger.add_check("c1", df)
    with pytest.raises(PipelineValidationError):
        ledger.validate()
    # checks cleared after validate — second call is a no-op
    ledger.validate()


def test_hand_split_transform_reports_every_check_once(spark):
    # preprocess → transform by hand: the cast check of preprocess and the
    # strict checks of three strategies all fail in ONE report, from transform
    from phenoxtract_spark.descriptors import OutputDataType, TimeElementType
    from phenoxtract_spark.plans.strategies import DateToAgeStrategy

    df = spark.createDataFrame(
        [
            ("P1", "marsian", "not_a_phenotype", "1990-01-01", "2020-01-01", "notanumber"),
            ("P1", "male", "Fever", "1991-01-01", "2020-01-01", "1.5"),
        ],
        "sid string, sex string, hpo string, dob string, onset string, n string",
    )
    ctx = TableContext(
        name="t",
        series_contexts=[
            SeriesContext(identifier=Identifier.of("sid"), data_context=Context.subject_id()),
            SeriesContext(identifier=Identifier.of("sex"), data_context=Context(ContextKind.SUBJECT_SEX)),
            SeriesContext(identifier=Identifier.of("hpo"), data_context=Context(ContextKind.HPO)),
            SeriesContext(identifier=Identifier.of("dob"), data_context=Context(ContextKind.DATE_OF_BIRTH)),
            SeriesContext(
                identifier=Identifier.of("onset"),
                data_context=Context(ContextKind.ONSET, time_type=TimeElementType.DATE),
            ),
            SeriesContext(
                identifier=Identifier.of("n"),
                data_context=Context(ContextKind.NONE),
                output_type=OutputDataType.FLOAT64,
            ),
        ],
    )
    pipe = _pipe(spark, None)
    pipe.add_strategy(DateToAgeStrategy(strict=True))
    cdfs = pipe.preprocess([ContextualizedDataFrame(df=df, context=ctx)])
    with pytest.raises(PipelineValidationError) as e:
        pipe.transform(cdfs)
    assert sorted(e.value.failures) == [
        "multiple_values:dob", "uncastable:n→double", "unmapped:sex", "unmapped_ontology:hpo",
    ]
    assert e.value.failures["multiple_values:dob"] == ["P1"]
    assert e.value.failures["uncastable:n→double"] == ["notanumber"]
