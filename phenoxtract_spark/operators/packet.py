"""G10/G11: nested packet assembly + JSON serialization (SURVEY §2.5).

The reference folds each patient's rows into one Phenopacket protobuf via a
mutable builder (phenopacket_builder.rs:36-61,609-702).  Spark-first: the
collectors build each section as one ``groupBy(subject_id)`` aggregate
(``plans/collectors.py``), and this module left-joins them onto the
subject rows, builds a single ``F.struct`` packet and ``F.to_json``.  The
sections also carry their terms' CURIE prefixes, so ``meta_data.resources``
needs no aggregate of its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import prefixed_id

SCHEMA_VERSION = "2.0"


def assemble_packets(
    subjects: DataFrame,
    sections: dict[str, DataFrame],
    packet_id: Column | None = None,
    created_by: str = "phenoxtract-spark",
) -> DataFrame:
    """Join per-section aggregates onto the subject dimension and build the
    nested packet struct.  ``subjects`` must have a ``subject_id`` column;
    each section DF is ``(subject_id, <name>)``, optionally with
    ``_<name>_prefixes`` (its terms' CURIE prefixes, see
    ``collectors.ordered_section``).  Missing sections → empty arrays
    (coalesce), mirroring the reference's minimal-packet behavior
    (big_null_test).  ``meta_data.resources`` (G11, ~
    phenopacket_builder.rs:683-702) is the sorted distinct prefixes the
    subject's sections used, ``[]`` when none."""
    out = subjects
    used = []
    for name, sec in sections.items():
        out = out.join(sec, "subject_id", "left")
        arr_type = sec.schema[name].dataType.simpleString()
        out = out.withColumn(name, F.coalesce(F.col(name), F.array().cast(arr_type)))
        if f"_{name}_prefixes" in sec.columns:
            used.append(F.coalesce(f"_{name}_prefixes", F.array().cast("array<string>")))
    resources = F.array().cast("array<string>")
    if used:
        resources = F.array_sort(F.array_compact(F.array_distinct(F.concat(*used))))
    pid = packet_id if packet_id is not None else F.col("subject_id")
    meta = F.struct(
        F.lit(created_by).alias("created_by"),
        F.lit(SCHEMA_VERSION).alias("phenopacket_schema_version"),
        resources.alias("resources"),
    )
    subject_fields = [c for c in subjects.columns]
    packet = F.struct(
        pid.alias("id"),
        F.struct(*[F.col(c) for c in subject_fields]).alias("subject"),
        *[F.col(n).alias(n) for n in sections],
        meta.alias("meta_data"),
    )
    return out.select(F.col("subject_id"), packet.alias("packet"))


def packets_to_json(packets: DataFrame, ignore_null_fields: bool = True) -> DataFrame:
    """Serialize the ``packet`` structs to JSON strings (sharded-JSONL-friendly).
    ``ignore_null_fields=False`` renders nulls explicitly — the
    cross-engine-canonical form (DuckDB ``json_object`` keeps nulls), used
    by the oracle-checked packet queries."""
    return packets.select(
        "subject_id",
        F.to_json(
            F.col("packet"),
            {"ignoreNullFields": "true" if ignore_null_fields else "false"},
        ).alias("packet_json"),
    )


def cohort_packet_id(cohort: str, subject: Column | str) -> Column:
    """C17 id synthesis: '{cohort}-{subject}' unless already prefixed."""
    return prefixed_id(F.lit(cohort), subject)
