"""Column-anchored collectors (SURVEY §2.5 G4/G5): linked-column
multiplicity at plan build, and the measurement order across kinds and
tables."""

import json
import uuid

import pytest

from phenoxtract_spark.descriptors import (
    Boundary,
    Context,
    ContextKind,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
    TableContext,
)
from phenoxtract_spark.operators import grouping
from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2
from phenoxtract_spark.plans import collectors
from test_medical_actions import _cdf, _sc


def _two_onsets(spark):
    return collectors.collect_hpo_in_cells, _cdf(
        spark, [("P1", "HP:1", "P1Y", "P2Y")],
        "sid string, hpo string, on1 string, on2 string",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("hpo", ContextKind.HPO, "feat"),
            _sc("on1", ContextKind.ONSET, "feat"),
            _sc("on2", ContextKind.ONSET, "feat"),
        ],
        "pheno",
    )


def _two_range_starts(spark):
    return collectors.collect_medical_treatments, _cdf(
        spark, [("P1", "CHEBI:1", 0.1, 0.2, 0.9)],
        "sid string, agent string, lo1 double, lo2 double, hi double",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("agent", ContextKind.TREATMENT_AGENT, "dose"),
            _sc("lo1", ContextKind.REFERENCE_RANGE, "dose", boundary=Boundary.START),
            _sc("lo2", ContextKind.REFERENCE_RANGE, "dose", boundary=Boundary.START),
            _sc("hi", ContextKind.REFERENCE_RANGE, "dose", boundary=Boundary.END),
        ],
        "treat",
    )


@pytest.mark.parametrize("case", [_two_onsets, _two_range_starts])
def test_two_linked_columns_of_one_kind_fail_at_plan_build(spark, case):
    """G4: a building block holds at most one linked column of each kind;
    the error names the table and the block, and no job has run."""
    collect, cdf = case(spark)
    sc = spark.sparkContext
    group = f"g4-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "G4 multiplicity")
    try:
        with pytest.raises(grouping.MultiplicityError) as e:
            collect([cdf])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    block = cdf.context.series_contexts[1].building_block_id
    assert f"table {cdf.context.name!r}" in str(e.value)
    assert f"block {block!r}" in str(e.value)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _measurement_cdf(spark, name, rows, schema, measurements):
    scs = [SeriesContext(identifier=Identifier.of("sid"), data_context=Context.subject_id())]
    scs += [
        SeriesContext(
            identifier=Identifier.of(col),
            data_context=Context(kind, assay_id=assay,
                                 unit_ontology_id="UO:1" if kind == ContextKind.QUANTITATIVE_MEASUREMENT else None),
        )
        for col, kind, assay in measurements
    ]
    return ContextualizedDataFrame(
        df=spark.createDataFrame(rows, schema), context=TableContext(name=name, series_contexts=scs)
    )


def test_v2_measurements_keep_table_then_column_order_across_kinds(spark):
    """Both measurement kinds share one frame whose frame index orders
    (table, column): table 0's qualitative column, then its quantitative
    one, then table 1's quantitative column — although that column sits
    at an earlier position in its own table."""
    t0 = _measurement_cdf(
        spark, "labs", [("P1", "PATO:1", 1.5)], "sid string, nitrate string, height double",
        [("nitrate", ContextKind.QUALITATIVE_MEASUREMENT, "LOINC:1"),
         ("height", ContextKind.QUANTITATIVE_MEASUREMENT, "LOINC:2")],
    )
    t1 = _measurement_cdf(
        spark, "vitals", [("P1", 70.0)], "sid string, weight double",
        [("weight", ContextKind.QUANTITATIVE_MEASUREMENT, "LOINC:3")],
    )
    labels = spark.createDataFrame([("PATO:1", "present")], "id string, label string")
    (row,) = render_packets_v2([t0, t1], labels_dim=labels).collect()
    meas = json.loads(row["packet_json"])["measurements"]
    assert [m["assay"]["id"] for m in meas] == ["LOINC:1", "LOINC:2", "LOINC:3"]
    assert [sorted(m["value"]) for m in meas] == [["ontologyClass"], ["quantity"], ["quantity"]]
    assert meas[0]["value"]["ontologyClass"] == {"id": "PATO:1", "label": "present"}
    assert [m["value"].get("quantity", {}).get("value") for m in meas] == [None, 1.5, 70.0]
