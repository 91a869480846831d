"""Medical-action collectors (SURVEY §2.5; ~ transform/collecting/
medical_actions/): treatment + procedure row-zip, strictness, section order,
and v2 rendering."""

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
)
from phenoxtract_spark.operators import grouping
from phenoxtract_spark.plans import collectors


def _sc(col, kind, block=None, boundary=None):
    ctx = Context(kind, boundary=boundary)
    return SeriesContext(
        identifier=Identifier.of(col), data_context=ctx, building_block_id=block
    )


def _cdf(spark, rows, schema, scs, name="t"):
    return ContextualizedDataFrame(
        df=spark.createDataFrame(rows, schema),
        context=TableContext(name=name, series_contexts=scs),
    )


def treatment_cdf(spark):
    # mirrors medical_treatment_collector.rs test fixture: row 0 all-null
    # (skipped), row 1 fully populated
    rows = [
        ("P1", None, None, None, None, None, None, None, None, None),
        ("P1", "CHEBI:6801", "NCIT:C38276", "PRESCRIPTION", 0.5, "UO:0000022",
         "MONDO:0005148", "NCIT:C62220", "NCIT:C123614", "NCIT:C105740"),
    ]
    schema = ("sid string, agent string, route string, drug string, dval double,"
              " dunit string, target string, intent string, response string, reason string")
    scs = [
        _sc("sid", ContextKind.SUBJECT_ID),
        _sc("agent", ContextKind.TREATMENT_AGENT, "b"),
        _sc("route", ContextKind.ROUTE_OF_ADMINISTRATION, "b"),
        _sc("drug", ContextKind.DRUG_TYPE, "b"),
        _sc("dval", ContextKind.QUANTITY_VALUE, "b"),
        _sc("dunit", ContextKind.QUANTITY_UNIT, "b"),
        _sc("target", ContextKind.TREATMENT_TARGET, "b"),
        _sc("intent", ContextKind.TREATMENT_INTENT, "b"),
        _sc("response", ContextKind.RESPONSE_TO_TREATMENT, "b"),
        _sc("reason", ContextKind.TREATMENT_TERMINATION_REASON, "b"),
    ]
    return _cdf(spark, rows, schema, scs, "treat")


def test_treatment_collects_all_attributes(spark):
    out = collectors.collect_medical_treatments([treatment_cdf(spark)])
    rows = out.collect()
    assert len(rows) == 1  # null-agent row skipped (~ collector.rs:43-46)
    r = rows[0]
    assert r["agent"] == "CHEBI:6801"
    assert r["route_of_administration"] == "NCIT:C38276"
    assert r["drug_type"] == "PRESCRIPTION"
    assert r["dose_value"] == 0.5
    assert r["dose_unit"] == "UO:0000022"
    assert r["treatment_target"] == "MONDO:0005148"
    assert r["treatment_intent"] == "NCIT:C62220"
    assert r["response_to_treatment"] == "NCIT:C123614"
    assert r["treatment_termination_reason"] == "NCIT:C105740"


def test_treatment_null_agent_with_values_is_error(spark):
    # ~ medical_treatment_data.rs:104-117 RequiredValueMissingError
    rows = [("P1", None, "NCIT:C38276")]
    cdf = _cdf(
        spark, rows, "sid string, agent string, route string",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("agent", ContextKind.TREATMENT_AGENT, "b"),
            _sc("route", ContextKind.ROUTE_OF_ADMINISTRATION, "b"),
        ],
    )
    with pytest.raises(grouping.MultiplicityError, match="without an agent"):
        collectors.collect_medical_treatments([cdf])


def test_treatment_orphan_route_is_plan_error(spark):
    # ~ medical_treatment_data.rs:54-66 validate_no_unexpected_contexts
    cdf = _cdf(
        spark, [("P1", "oral")], "sid string, route string",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("route", ContextKind.ROUTE_OF_ADMINISTRATION, "b"),
        ],
    )
    with pytest.raises(grouping.MultiplicityError, match="no TreatmentAgent"):
        collectors.collect_medical_treatments([cdf])


def test_treatment_dose_value_without_unit_is_plan_error(spark):
    # ~ quantity_data.rs:34-48: value and unit must come together
    cdf = _cdf(
        spark, [("P1", "CHEBI:1", 1.0)], "sid string, agent string, dval double",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("agent", ContextKind.TREATMENT_AGENT, "b"),
            _sc("dval", ContextKind.QUANTITY_VALUE, "b"),
        ],
    )
    with pytest.raises(grouping.MultiplicityError, match="BOTH QuantityValue and QuantityUnit"):
        collectors.collect_medical_treatments([cdf])


def test_treatment_reference_range_needs_both_bounds(spark):
    cdf = _cdf(
        spark, [("P1", "CHEBI:1", 1.0, "UO:1", 0.1)],
        "sid string, agent string, dval double, dunit string, lo double",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("agent", ContextKind.TREATMENT_AGENT, "b"),
            _sc("dval", ContextKind.QUANTITY_VALUE, "b"),
            _sc("dunit", ContextKind.QUANTITY_UNIT, "b"),
            _sc("lo", ContextKind.REFERENCE_RANGE, "b", boundary=Boundary.START),
        ],
    )
    with pytest.raises(grouping.MultiplicityError, match="BOTH start and end"):
        collectors.collect_medical_treatments([cdf])


def procedure_cdf(spark):
    rows = [
        ("P1", None, None, None),  # skipped, no error (procedure_data.rs:56-66)
        ("P1", "NCIT:C15189", "UBERON:0002107", "P40Y"),
        ("P2", "NCIT:C15189", None, "2021-03-04"),
    ]
    scs = [
        _sc("sid", ContextKind.SUBJECT_ID),
        _sc("proc", ContextKind.PROCEDURE, "b"),
        _sc("site", ContextKind.PROCEDURE_BODY_SITE, "b"),
        _sc("when_", ContextKind.TIME_OF_PROCEDURE, "b"),
    ]
    return _cdf(spark, rows, "sid string, proc string, site string, when_ string", scs, "proc")


def test_procedure_collects_and_skips_null_rows(spark):
    out = collectors.collect_medical_procedures([procedure_cdf(spark)])
    rows = {(r["subject_id"], r["body_site"]): r for r in out.collect()}
    assert len(rows) == 2
    assert rows[("P1", "UBERON:0002107")]["performed"] == "P40Y"
    assert rows[("P2", None)]["procedure_code"] == "NCIT:C15189"


def test_procedure_orphan_body_site_is_plan_error(spark):
    cdf = _cdf(
        spark, [("P1", "UBERON:1")], "sid string, site string",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("site", ContextKind.PROCEDURE_BODY_SITE, "b"),
        ],
    )
    with pytest.raises(grouping.MultiplicityError, match="no Procedure column"):
        collectors.collect_medical_procedures([cdf])


def test_section_orders_procedures_before_treatments(spark):
    # broker order: MedicalProcedureCollector runs before MedicalTreatment
    # (cdf_collector_broker.rs:77-91)
    sec = collectors.medical_actions_section(
        collectors.collect_medical_procedures([procedure_cdf(spark)]),
        collectors.collect_medical_treatments([treatment_cdf(spark)]),
    )
    by_subject = {r["subject_id"]: r["medical_actions"] for r in sec.collect()}
    acts = by_subject["P1"]
    assert len(acts) == 2
    assert acts[0]["procedure"] is not None and acts[0]["treatment"] is None
    assert acts[1]["treatment"] is not None and acts[1]["procedure"] is None
    assert acts[1]["treatment"]["agent"] == "CHEBI:6801"


@pytest.mark.parametrize("kept, other", [("procedure", "treatment"), ("treatment", "procedure")])
def test_section_with_one_kind_of_action(spark, kept, other):
    # the missing half's columns are null-filled, its struct stays null
    sec = collectors.medical_actions_section(
        collectors.collect_medical_procedures([procedure_cdf(spark)]) if kept == "procedure" else None,
        collectors.collect_medical_treatments([treatment_cdf(spark)]) if kept == "treatment" else None,
    )
    acts = {r["subject_id"]: r["medical_actions"] for r in sec.collect()}["P1"]
    assert acts and all(a[kept] is not None and a[other] is None for a in acts)


def test_v2_render_omits_a_zero_survival_time(spark):
    # proto3 default: survivalTimeInDays 0 is left out of the packet itself,
    # so every sink writes the same document
    from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2

    cdf = _cdf(
        spark, [("P1", "DECEASED", 0), ("P2", "DECEASED", 12)],
        "sid string, vital string, days int",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("vital", ContextKind.VITAL_STATUS),
            _sc("days", ContextKind.SURVIVAL_TIME_DAYS),
        ],
    )
    labels = spark.createDataFrame([], "id string, label string")
    out = {
        r["subject_id"]: json.loads(r["packet_json"])["subject"]["vitalStatus"]
        for r in render_packets_v2([cdf], labels_dim=labels).collect()
    }
    assert out == {
        "P1": {"status": "DECEASED"},
        "P2": {"status": "DECEASED", "survivalTimeInDays": 12},
    }


def test_v2_render_emits_camelcase_medical_actions(spark):
    from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2

    labels = spark.createDataFrame(
        [("CHEBI:6801", "metformin"), ("NCIT:C15189", "biopsy"),
         ("UBERON:0002107", "liver"), ("UO:0000022", "milligram")],
        "id string, label string",
    )
    out = render_packets_v2(
        [procedure_cdf(spark), treatment_cdf(spark)], labels_dim=labels
    )
    packets = {r["subject_id"]: json.loads(r["packet_json"]) for r in out.collect()}
    acts = packets["P1"]["medicalActions"]
    assert acts[0]["procedure"]["code"] == {"id": "NCIT:C15189", "label": "biopsy"}
    assert acts[0]["procedure"]["bodySite"] == {"id": "UBERON:0002107", "label": "liver"}
    assert acts[0]["procedure"]["performed"] == {"age": {"iso8601duration": "P40Y"}}
    t = acts[1]["treatment"]
    assert t["agent"] == {"id": "CHEBI:6801", "label": "metformin"}
    assert t["drugType"] == "PRESCRIPTION"
    assert t["cumulativeDose"] == {
        "unit": {"id": "UO:0000022", "label": "milligram"}, "value": 0.5
    }
    assert acts[1]["treatmentTarget"]["id"] == "MONDO:0005148"
    # P2's procedure timestamp renders as {timestamp: ...Z}
    p2 = packets["P2"]["medicalActions"][0]["procedure"]
    assert p2["performed"] == {"timestamp": "2021-03-04T00:00:00Z"}


def measurement_cdf(spark):
    ctx = Context(
        ContextKind.QUANTITATIVE_MEASUREMENT,
        assay_id="LOINC:8302-2", unit_ontology_id="UO:0000015",
    )
    return ContextualizedDataFrame(
        df=spark.createDataFrame([("P1", 180.0)], "sid string, height double"),
        context=TableContext(name="meas", series_contexts=[
            _sc("sid", ContextKind.SUBJECT_ID),
            SeriesContext(identifier=Identifier.of("height"), data_context=ctx,
                          building_block_id="m"),
        ]),
    )


def _res(*ids):
    return [{"id": i, "name": i.upper(), "url": f"http://x/{i}"} for i in ids]


@pytest.mark.parametrize(
    "resources, expected",
    [
        # uo comes from both medicalActions (dose unit) and measurements;
        # mondo (treatment target) is not configured; hp is unused
        (_res("uo", "hp", "ncit", "loinc", "chebi", "uberon"),
         {"P1": ["uo", "ncit", "loinc", "chebi", "uberon"], "P2": ["ncit"]}),
        (_res("uberon", "ncit"), {"P1": ["uberon", "ncit"], "P2": ["ncit"]}),
        (_res("hp"), {"P1": None, "P2": None}),
        (None, {"P1": None, "P2": None}),
    ],
    ids=["config-order", "unknown-dropped", "no-match", "none"],
)
def test_v2_render_resources_are_the_configured_prefixes_used(spark, resources, expected):
    from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2

    labels = spark.createDataFrame([], "id string, label string")
    out = render_packets_v2(
        [procedure_cdf(spark), treatment_cdf(spark), measurement_cdf(spark)],
        labels_dim=labels, resources=resources,
    )
    for r in out.collect():
        meta = json.loads(r["packet_json"])["metaData"]
        want = expected[r["subject_id"]]
        if want is None:
            assert "resources" not in meta
        else:
            assert [x["id"] for x in meta["resources"]] == want
            assert meta["resources"][0] == {
                "id": want[0], "name": want[0].upper(), "url": f"http://x/{want[0]}"
            }


def test_v2_render_keeps_a_pre_prefixed_subject_id(spark):
    # C17: '{cohort}-{subject}' unless the subject id already carries it
    from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2

    cdf = _cdf(
        spark, [("coh-P1", "MONDO:0000001", "FBN1"), ("P2", "MONDO:0000001", "FBN1")],
        "sid string, disease string, gene string",
        [
            _sc("sid", ContextKind.SUBJECT_ID),
            _sc("disease", ContextKind.DISEASE, "d"),
            _sc("gene", ContextKind.HGNC, "d"),
        ],
    )
    labels = spark.createDataFrame([], "id string, label string")
    out = render_packets_v2([cdf], labels_dim=labels, cohort="coh")
    ids = {
        p["id"]: p["interpretations"][0]["id"]
        for p in (json.loads(r["packet_json"]) for r in out.collect())
    }
    assert ids == {
        "coh-P1": "coh-P1-MONDO:0000001", "coh-P2": "coh-P2-MONDO:0000001"
    }
