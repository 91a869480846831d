"""Seeded clinical-cohort generator for the cohort → Phenopacket benchmark.

Scales the table shapes of ``tests/assets/integration_test/`` to any
subject count.  Per subject it draws a sex, a date of birth, HPO terms in
cells (labels, synonyms and CURIEs in mixed case, plus the ``no_info``
alias), a disease with an onset age and a gene/HGVS genotype, a free-text
note carrying multi-HPO ids, and HPO terms in headers (one header is a
label, so the ontology normaliser renames it) with an onset date.

Two layouts:

- ``long``: one patients-are-rows table, ``visits``, with a heavy-tailed
  number of rows per subject; sex and date of birth repeat on every row;
- ``spreadsheet``: ``patients`` with one row per subject, and the
  HPO-in-headers table ``obs_status`` written patients-are-columns at
  spreadsheet width.

Every value comes from the vocabularies the benchmark's dimensions are
built from, so a clean cohort passes every strict check.  The same
``(shape, seed)`` always writes byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

# synonym-dict keys of operators.mapping.SEX_MAP as they appear in raw data
# (mixed case), with the value the mapping must produce
SEX_VALUES = [
    ("m", "MALE"), ("Male", "MALE"), ("man", "MALE"),
    ("f", "FEMALE"), ("FEMALE", "FEMALE"), ("woman", "FEMALE"),
    ("other", "OTHER_SEX"), ("unknown", "UNKNOWN_SEX"),
]
# (gene, hgvs1, hgvs2) combinations whose variants are in the HGVS dimension
GENOTYPES = [
    ("KIF21A", "NM_001173464.1:c.2860C>T", "NM_001173464.1:c.2860C>T"),
    ("H19", "NR_002196.1:n.601G>T", ""),
    ("ALMS1", "", ""),
]
# header-context HPO columns of obs_status; 'Rhinorrhea' is a label
OBS_HEADERS = ["Rhinorrhea", "HP:0000246"]
# free-text multi-HPO note fragments (the allergy terms of csv_data_3.csv)
NOTE_TERMS = [
    ("seafood allergy", "HP:0410333"), ("dairy allergy", "HP:0410327"),
    ("gluten allergy", "HP:0410329"), ("egg allergy", "HP:0410328"),
]
# long layout: rows per subject follow a Pareto tail capped at MAX_ROWS, so
# a few subjects carry many visits, as in real cohorts, and the per-subject
# fold meets uneven groups
PARETO_ALPHA = 1.3
MAX_ROWS = 40
# spreadsheet layout: subjects (columns) in the transposed obs_status, the
# width of a hand-kept sheet; the transposed reader parses it on the driver
TRANSPOSED_WIDTH = 128
HEADERS = {
    "visits": ["pid", "sex", "dob", "hpo1", "hpo2", "disease", "disease_onset"],
    "patients": ["pid", "sex", "dob", "notes", "hpo1", "hpo2", "disease", "disease_onset",
                 "gene", "hgvs1", "hgvs2"],
    "obs_status": ["pid", *OBS_HEADERS, "onset_date"],
}


@dataclass(frozen=True)
class Shape:
    subjects: int
    # False: the long layout; True: the spreadsheet layout
    spreadsheet: bool = False


def load_vocab(it_dir: str) -> dict:
    """HPO terms from ``mini_hp.obo`` and the MONDO terms from
    ``golden_dims.json`` — the sources the dimensions are built from."""
    from phenoxtract_spark.operators.ontology import parse_obo

    with open(os.path.join(it_dir, "golden_dims.json")) as f:
        raw = json.load(f)
    return {
        "hpo": [(t.id, t.label, t.synonyms) for t in parse_obo(os.path.join(it_dir, "mini_hp.obo"))],
        "mondo": [(t["id"], t["label"]) for t in raw["mondo"]],
    }


def _case(rng: random.Random, s: str) -> str:
    return rng.choice((s, s.lower(), s.upper(), s.title(), f" {s}"))


def _hpo_cell(rng: random.Random, vocab: dict) -> str:
    u = rng.random()
    if u < 0.08:
        return "no_info"
    if u < 0.15:
        return ""
    hid, label, syns = rng.choice(vocab["hpo"])
    if u < 0.35:
        return hid
    if syns and u < 0.5:
        return _case(rng, rng.choice(syns))
    return _case(rng, label)


def _disease(rng: random.Random, vocab: dict) -> list[str]:
    """[disease, onset age]: a MONDO CURIE or label, or nothing."""
    if rng.random() < 0.3:
        return ["", ""]
    did, label = rng.choice(vocab["mondo"])
    age = str(rng.randint(1, 60)) if rng.random() < 0.8 else ""
    return [did if rng.random() < 0.5 else _case(rng, label), age]


def generate(out_dir: str, shape: Shape, seed: int, vocab: dict) -> dict:
    """Write the layout's tables as CSV under ``out_dir``.  Returns their
    paths, the expected subject set, each subject's mapped sex and the
    number of records the program's CSV scans read from the files."""
    rng = random.Random(f"cohort:{seed}:{shape.subjects}")
    os.makedirs(out_dir, exist_ok=True)
    subjects = [f"S{i:07d}" for i in range(shape.subjects)]
    tables = ("patients", "obs_status") if shape.spreadsheet else ("visits",)
    rows = {t: [] for t in tables}
    sex = {}
    epoch = dt.date(1940, 1, 1)
    for sid in subjects:
        raw_sex, sex[sid] = rng.choice(SEX_VALUES)
        dob = epoch + dt.timedelta(days=rng.randrange(75 * 365))
        if not shape.spreadsheet:
            n = min(MAX_ROWS, int((1.0 - rng.random()) ** (-1.0 / PARETO_ALPHA)))
            for _ in range(n):
                rows["visits"].append(
                    [sid, raw_sex, dob.isoformat(), _hpo_cell(rng, vocab), _hpo_cell(rng, vocab),
                     *_disease(rng, vocab)]
                )
            continue
        note = ""
        if rng.random() < 0.4:
            picks = rng.sample(NOTE_TERMS, rng.randint(1, 3))
            note = " and ".join(f"{label} {hid}" for label, hid in picks)
        disease = _disease(rng, vocab)
        genotype = rng.choice(GENOTYPES) if disease[0] else ("", "", "")
        rows["patients"].append(
            [sid, raw_sex, dob.isoformat(), note, _hpo_cell(rng, vocab), _hpo_cell(rng, vocab),
             *disease, *genotype]
        )
        onset = dob + dt.timedelta(days=rng.randrange(1, 20 * 365))
        rows["obs_status"].append(
            [sid, *(rng.choice(("TRUE", "FALSE", "")) for _ in OBS_HEADERS),
             f"{onset.day:02d}.{onset.month:02d}.{onset.year}" if rng.random() < 0.7 else ""]
        )
    if shape.spreadsheet:
        # patients are columns: each file row is one variable
        rows["obs_status"] = rows["obs_status"][:TRANSPOSED_WIDTH]
    paths = {}
    source_rows = 0
    for t in tables:
        grid = [HEADERS[t], *rows[t]]
        if t == "obs_status":
            # read headerless, so every file row is a record
            grid = [list(col) for col in zip(*grid)]
            source_rows += len(grid)
        else:
            source_rows += len(grid) - 1
        paths[t] = os.path.join(out_dir, f"{t}.csv")
        with open(paths[t], "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows(grid)
    return {
        "paths": paths,
        "subjects": subjects,
        "sex": sex,
        "source_rows": source_rows,
    }
