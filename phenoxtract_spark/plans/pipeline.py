"""The pipeline compiler: Extract → Transform → Load as composed Spark
plans (SURVEY §3; ~ pipeline.rs:36-85, transform/transform_module.rs:26-43).

Stage parity with the reference:

1. extract    — CDFs arrive from sources/readers (or any DataFrame + context)
2. preprocess — C1 trim/null, C2/C3 inference casts, subject forced string
                (~ preprocessor.rs:13-19)
3. strategies — ordered, ``is_valid``-gated whole-table rewrites (M7)
4. collect    — section builders (collectors.py), each one groupBy(subject)
5. assemble   — nested packet struct + metadata stamp (G10), to_json
6. load       — sharded JSONL (scale) or file-per-subject (S6 parity)

Extract, preprocess and the strategies compose into one lazy plan per
table, so Catalyst can push filters into scans and broadcast every
dimension join.  ``transform`` ends with ONE materialization barrier per
table (``session.materialize``): collect, assemble and load then read the
stored rows.  Without it every eager action downstream — each collector
probe, the v2 renderer's probes and every AQE stage of the sink — re-ran
the whole upstream plan from the file scan (row numbering, casts,
dimension joins included); on the cohort benchmark's ``etl_v2_files``
that was 18 collect jobs and 37 sink jobs, each replaying the reader.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..descriptors import ContextKind, ContextualizedDataFrame
from ..functions import casting, cleaning
from ..operators import packet as packet_ops
from ..session import materialize
from . import collectors
from .strategies import Strategy


@dataclass
class Pipeline:
    """~ Pipeline (pipeline.rs:22-44): ctor + add_strategy + run."""

    strategies: list[Strategy] = field(default_factory=list)
    cohort: Optional[str] = None
    created_by: str = "phenoxtract-spark"
    validate_subjects: bool = True
    # pass the same errors.ErrorLedger to strict strategies and here: their
    # offender probes then share ONE validation job, run after transform
    ledger: object = None

    def add_strategy(self, s: Strategy) -> "Pipeline":
        self.strategies.append(s)
        return self

    def insert_strategy(self, i: int, s: Strategy) -> "Pipeline":
        self.strategies.insert(i, s)
        return self

    # -- stage 2: preprocess (~ preprocessor.rs:13-19) ----------------------
    def preprocess(self, cdfs: list[ContextualizedDataFrame]) -> list[ContextualizedDataFrame]:
        out = []
        for cdf in cdfs:
            df = cleaning.clean_strings(cdf.df)
            df = casting.ambivalent_cast(df)
            df = casting.force_string(df, cdf.subject_col)
            # honor the config surface the reference declares:
            # fill_missing → coalesce (declared-but-never-applied in the
            # reference, SURVEY §1.1); output_type → specific cast (C4)
            for col, sc in cdf.context.resolve(df.columns).items():
                if sc.fill_missing is not None:
                    dt = dict(df.dtypes)[col]
                    df = df.withColumn(
                        col, F.coalesce(F.col(col), F.lit(sc.fill_missing).cast(dt))
                    )
                if sc.output_type is not None:
                    target = sc.output_type.value
                    casted = casting.specific_cast_expr(F.col(col), target)
                    if self.ledger is not None:
                        self.ledger.add_check(
                            f"uncastable:{cdf.context.name}.{col}→{target}",
                            df.filter(F.col(col).isNotNull() & casted.isNull())
                            .select(col).distinct(),
                        )
                        df = df.withColumn(col, casted)
                    else:
                        df = casting.specific_cast(df, col, target)
            new = cdf.with_df(df)
            if self.validate_subjects:
                new.validate_subject_not_null()
            out.append(new)
        return out

    # -- stage 3: strategies ------------------------------------------------
    def transform(self, cdfs: list[ContextualizedDataFrame]) -> list[ContextualizedDataFrame]:
        for s in self.strategies:
            if s.is_valid(cdfs):
                cdfs = s.apply(cdfs)
        # the barrier (module docstring): also when no strategy ran, since
        # the collectors would still re-run the preprocess casts
        return [cdf.with_df(materialize(cdf.df)) for cdf in cdfs]

    # -- stage 4+5: collect + assemble -------------------------------------
    def collect(self, cdfs: list[ContextualizedDataFrame]) -> DataFrame:
        individual = collectors.collect_individual(cdfs)
        sections: dict[str, DataFrame] = {}
        feats = collectors.features_section(
            collectors.collect_hpo_in_cells(cdfs),
            collectors.collect_hpo_in_headers(cdfs),
        )
        if feats is not None:
            sections["phenotypic_features"] = feats
        dis = collectors.diseases_section(collectors.collect_diseases(cdfs))
        if dis is not None:
            sections["diseases"] = dis
        meas = collectors.measurements_section(
            collectors.collect_quantitative_measurements(cdfs)
        )
        if meas is not None:
            sections["measurements"] = meas
        medact = collectors.medical_actions_section(
            collectors.collect_medical_procedures(cdfs),
            collectors.collect_medical_treatments(cdfs, ledger=self.ledger),
        )
        if medact is not None:
            sections["medical_actions"] = medact
        interp = collectors.collect_interpretations(cdfs)
        if interp is not None:
            sections["interpretations"] = interp.groupBy("subject_id").agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("interpretation_id"),
                            F.col("disease_id"),
                            F.col("genomic_interpretations"),
                        )
                    )
                ).alias("interpretations")
            )
        pid = (
            packet_ops.cohort_packet_id(self.cohort, F.col("subject_id"))
            if self.cohort
            else None
        )
        return packet_ops.assemble_packets(
            individual,
            sections,
            packet_id=pid,
            created_by=self.created_by,
            resources=collectors.collect_resources(cdfs),
        )

    def run(self, cdfs: Sequence[ContextualizedDataFrame]) -> DataFrame:
        """Full EP3 lifecycle: returns (subject_id, packet_json)."""
        cdfs = self.preprocess(list(cdfs))
        cdfs = self.transform(cdfs)
        if self.ledger is not None:
            self.ledger.validate()
        packets = self.collect(cdfs)
        return packet_ops.packets_to_json(packets)

    def run_and_load(self, cdfs, out_dir: str, file_per_subject: bool = False) -> None:
        from ..sources import sinks

        js = self.run(cdfs)
        if file_per_subject:
            sinks.write_file_per_subject(js, out_dir)
        else:
            sinks.write_jsonl(js, out_dir)
