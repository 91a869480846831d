"""G10/G11: nested packet assembly + JSON serialization (SURVEY §2.5).

The reference folds each patient's rows into one Phenopacket protobuf via a
mutable builder (phenopacket_builder.rs:36-61,609-702).  Spark-first: one
wide ``groupBy(subject_id)`` with ``collect_list(struct(...))`` per section,
then a single ``F.struct`` packet and ``F.to_json``.  One shuffle total;
sections computed from different tables are pre-aggregated per subject and
joined on subject_id (sort-merge or broadcast as Catalyst/AQE decides).
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
    resources: DataFrame | None = None,
) -> DataFrame:
    """Join per-section aggregates onto the subject dimension and build the
    nested packet struct.  ``subjects`` must have a ``subject_id`` column;
    each section DF is ``(subject_id, <alias>)``.  Missing sections → empty
    arrays (coalesce), mirroring the reference's minimal-packet behavior
    (big_null_test)."""
    out = subjects
    for name, sec in sections.items():
        out = out.join(sec, "subject_id", "left")
        arr_type = sec.schema[name].dataType.simpleString()
        out = out.withColumn(name, F.coalesce(F.col(name), F.array().cast(arr_type)))
    pid = packet_id if packet_id is not None else F.col("subject_id")
    if resources is not None:
        out = out.join(resources, "subject_id", "left")
        res_col = F.coalesce(F.col("resources"), F.array().cast("array<string>"))
    else:
        res_col = F.array().cast("array<string>")
    meta = F.struct(
        F.lit(created_by).alias("created_by"),
        F.lit(SCHEMA_VERSION).alias("phenopacket_schema_version"),
        res_col.alias("resources"),
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
