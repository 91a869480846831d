"""The benchmark workloads: one config → cohort → Phenopacket
conversion each, called layer by layer through the package's public
functions, plus the output check every conversion is counted against.

Every layer call sits inside ``tracer.span(name)``; with tracing off the
span is a no-op, so the untraced conversion is exactly the product path.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import dataclass

from gen_cohort import Shape


@dataclass(frozen=True)
class Workload:
    shape: Shape
    # True: one shared ErrorLedger defers every strict probe to validate()
    ledger: bool
    # True: ingest row numbers + render_packets_v2 + file-per-subject sink;
    # False: Pipeline.collect + packets_to_json + JSONL sink
    v2_files: bool


WORKLOADS = {
    "etl_large": Workload(Shape(subjects=12000), ledger=True, v2_files=False),
    "etl_v2_files": Workload(Shape(subjects=500, spreadsheet=True), ledger=False, v2_files=True),
}

STRATEGY_KINDS = (
    "alias_map", "mapping", "ontology_normaliser", "date_to_age",
    "multi_hpo_col_expansion", "age_to_iso8601",
)


def build_dims(spark, it_dir: str) -> dict:
    """Ontology dimensions from the fixture vocabularies (the offline
    registry): HPO from the OBO file, the rest from ``golden_dims.json``."""
    from phenoxtract_spark.operators import ontology

    with open(os.path.join(it_dir, "golden_dims.json")) as f:
        raw = json.load(f)

    def terms(key):
        return [ontology.OntologyTerm(t["id"], t["label"], tuple(t["synonyms"])) for t in raw[key]]

    hpo_terms = ontology.parse_obo(os.path.join(it_dir, "mini_hp.obo"))
    all_terms = hpo_terms + terms("mondo") + terms("uo") + terms("pato") + terms("loinc")
    return {
        "hpo": ontology.bidict_dim(spark, hpo_terms, resource="hp"),
        "mondo": ontology.bidict_dim(spark, terms("mondo"), resource="mondo"),
        "labels": spark.createDataFrame([(t.id, t.label) for t in all_terms], "id string, label string"),
        "hgnc": spark.createDataFrame(list(raw["hgnc"].items()), "symbol string, hgnc_id string"),
        "hgvs": spark.createDataFrame(
            [
                (
                    k,
                    [(e["syntax"], e["value"]) for e in v["expressions"]],
                    tuple(v["vcf"][c] for c in ("genome_assembly", "chrom", "pos", "ref", "alt")),
                )
                for k, v in raw["hgvs"].items()
            ],
            "hgvs string, expressions array<struct<syntax:string,value:string>>,"
            "vcf struct<genome_assembly:string,chrom:string,pos:bigint,ref:string,alt:string>",
        ),
        "resources": raw["resources"],
    }


def cohort_config(w: Workload) -> dict:
    """The config a user would write for the generated tables."""
    from phenoxtract_spark.operators import mapping

    demographics = [
        {"identifier": "sex", "context": "subject_sex"},
        {"identifier": "dob", "context": "date_of_birth"},
    ]
    cells = [{"identifier": ["hpo1", "hpo2"], "context": "hpo", "alias_map": {"no_info": None},
              "building_block": "PH"}]
    disease = [
        {"identifier": "disease", "context": "disease", "building_block": "DX"},
        {"identifier": "disease_onset", "context": {"kind": "onset", "time_type": "age"},
         "building_block": "DX"},
    ]
    if w.shape.spreadsheet:
        tables = {
            "patients": {"subject_id": "pid", "columns": [
                *demographics,
                {"identifier": "notes", "context": "multi_hpo_id", "building_block": "N"},
                *cells,
                *disease,
                {"identifier": "gene", "context": "hgnc", "building_block": "DX"},
                {"identifier": ["hgvs1", "hgvs2"], "context": "hgvs", "building_block": "DX"},
            ]},
            "obs_status": {"subject_id": "pid", "columns": [
                {"identifier": ["Rhinorrhea", "HP:0000246"], "context": "observation_status",
                 "header_context": "hpo", "building_block": "OB"},
                {"identifier": "onset_date", "context": {"kind": "onset", "time_type": "date"},
                 "building_block": "OB"},
            ]},
        }
    else:
        tables = {"visits": {"subject_id": "pid", "columns": [*demographics, *cells, *disease]}}
    return {
        "cohort": "BENCH",
        "tables": tables,
        "strategies": [
            {"kind": "alias_map"},
            {"kind": "ontology_normaliser", "ontology": "hpo", "contexts": ["hpo"]},
            {"kind": "ontology_normaliser", "ontology": "mondo", "contexts": ["disease"]},
            {"kind": "date_to_age"},
            {"kind": "mapping", "context": "subject_sex", "dictionary": mapping.SEX_MAP},
            {"kind": "age_to_iso8601"},
            {"kind": "multi_hpo_col_expansion"},
        ],
    }


def strategy_kind(s) -> str:
    from phenoxtract_spark.plans.strategies import STRATEGY_KINDS as KINDS

    return next(k for k, cls in KINDS.items() if type(s) is cls)


def convert(spark, w: Workload, cfg: dict, dims: dict, paths: dict, out_dir: str, tracer) -> None:
    """One conversion: read → compile → preprocess → strategies → (ledger)
    → collect → sink.  Equivalent to ``run_from_config`` + a sink call,
    split at the layer boundaries so each can be timed."""
    from phenoxtract_spark.descriptors import ContextualizedDataFrame
    from phenoxtract_spark.errors import ErrorLedger
    from phenoxtract_spark.operators import packet as packet_ops
    from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2
    from phenoxtract_spark.plans.config import compile_pipeline
    from phenoxtract_spark.sources import readers, sinks

    with tracer.span("readers"):
        tables = {}
        for name, path in paths.items():
            tables[name] = readers.read_csv(
                spark, path,
                readers.ExtractionConfig(name, patients_are_rows=name != "obs_status"),
                attach_rownum=w.v2_files,
            )
    with tracer.span("config"):
        pipe, contexts = compile_pipeline(cfg, spark, dims)
    if w.ledger:
        pipe.ledger = ErrorLedger()
        for s in pipe.strategies:
            if hasattr(s, "ledger"):
                s.ledger = pipe.ledger
    for s in pipe.strategies:
        tracer.wrap_method(s, "apply", f"strategies.{strategy_kind(s)}")
    cdfs = [ContextualizedDataFrame(df=tables[n], context=ctx) for n, ctx in contexts.items()]
    with tracer.span("preprocess"):
        cdfs = pipe.preprocess(cdfs)
    with tracer.span("transform"):
        cdfs = pipe.transform(cdfs)
    if pipe.ledger is not None:
        with tracer.span("ledger"):
            pipe.ledger.validate()
    with tracer.span("collect"):
        if w.v2_files:
            js = render_packets_v2(
                cdfs, labels_dim=dims["labels"], hgnc_dim=dims["hgnc"], hgvs_dim=dims["hgvs"],
                resources=dims["resources"], cohort=cfg["cohort"], created_by="cohortbench",
            )
        else:
            js = packet_ops.packets_to_json(pipe.collect(cdfs))
    with tracer.span("sink"):
        if w.v2_files:
            sinks.write_file_per_subject(js, out_dir)
        else:
            sinks.write_jsonl(js, out_dir)


def read_output(w: Workload, out_dir: str) -> list[str]:
    """Every packet the sink wrote, as a JSON string."""
    if w.v2_files:
        docs = []
        for p in glob.glob(os.path.join(out_dir, "*.json")):
            with open(p) as f:
                docs.append(f.read())
        return docs
    lines = []
    for p in glob.glob(os.path.join(out_dir, "part-*")):
        with open(p) as f:
            lines.extend(line for line in f.read().splitlines() if line)
    return lines


def output_bytes(out_dir: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(out_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    )


def check_output(w: Workload, out_dir: str, cohort: dict) -> tuple[bool, str, str]:
    """(ok, digest, reason): every packet parses, the subject set equals the
    generated one, and each subject's sex is the mapped value."""
    docs = read_output(w, out_dir)
    packets = {}
    for d in docs:
        try:
            p = json.loads(d)
        except ValueError:
            return False, "", "packet does not parse"
        subject = p.get("subject", {})
        sid = subject.get("id", subject.get("subject_id"))
        if sid in packets:
            return False, "", f"duplicate packet for {sid}"
        packets[sid] = p
    if set(packets) != set(cohort["subjects"]):
        return False, "", f"{len(packets)} packets for {len(cohort['subjects'])} subjects"
    for sid, p in packets.items():
        if p["subject"].get("sex") != cohort["sex"][sid]:
            return False, "", f"{sid}: sex {p['subject'].get('sex')!r} != {cohort['sex'][sid]!r}"
    h = hashlib.sha256()
    for sid in sorted(packets):
        h.update(json.dumps(packets[sid], sort_keys=True).encode())
    return True, h.hexdigest(), ""
