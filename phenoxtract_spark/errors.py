"""Deferred error ledger (V6 at scale; SURVEY §7.3; ~ transform/error.rs:16-60).

A run fails once, listing every offender.  The ``Pipeline`` owns one ledger:
preprocess casts and strict strategies register a small lazy DataFrame of
offenders on it, and ``Pipeline.transform`` validates right after its
barrier — one action (each limited offender frame still runs as its own
job), one combined :class:`PipelineValidationError`::

    pipe = Pipeline(strategies=[MappingStrategy(spark, kind, SEX_MAP)])
    cdfs = pipe.preprocess(cdfs)   # uncastable:… registered, no action
    cdfs = pipe.transform(cdfs)    # unmapped:… registered; one validation action

:func:`strict_check` is the one place a check picks its mode: a standalone
operator call has no ledger, so it probes now and raises the operator's
typed error (``UnmappedValueError``, ``CastError``, ``MultiplicityError``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

#: Offender examples a deferred check reports.
LIMIT_PER_CHECK = 20


class PipelineValidationError(ValueError):
    def __init__(self, failures: dict[str, list[str]]):
        self.failures = failures
        lines = "; ".join(f"{name}: {vals}" for name, vals in failures.items())
        super().__init__(f"{len(failures)} validation check(s) failed — {lines}")


@dataclass
class ErrorLedger:
    _checks: list[DataFrame] = field(default_factory=list)

    def add_check(self, name: str, offenders: DataFrame) -> None:
        """Register a lazy DataFrame of offending rows (first column reported)."""
        tagged = (
            offenders.select(F.col(offenders.columns[0]).cast("string").alias("offender"))
            .limit(LIMIT_PER_CHECK)
            .select(F.lit(name).alias("check"), "offender")
        )
        self._checks.append(tagged)

    def validate(self) -> None:
        """Run every registered check in ONE action; raise a combined report
        if any offenders exist.  No-op when nothing registered."""
        if not self._checks:
            return
        rows = reduce(DataFrame.unionByName, self._checks).collect()
        self._checks.clear()
        if not rows:
            return
        failures: dict[str, list[str]] = {}
        for r in rows:
            failures.setdefault(r["check"], []).append(r["offender"])
        raise PipelineValidationError(failures)


def strict_check(ledger: Optional[ErrorLedger], name: str, offenders: DataFrame,
                 error: Callable[[list[Row]], Exception], limit: int = LIMIT_PER_CHECK) -> None:
    """One strict check in either mode.  ``offenders`` is a lazy frame of
    offending rows, first column = the reported value.  With a ``ledger``
    it is registered as check ``name`` (no action); without one, up to
    ``limit`` rows are fetched now and ``error(rows)`` is raised if any."""
    if ledger is not None:
        ledger.add_check(name, offenders)
        return
    rows = offenders.limit(limit).collect()
    if rows:
        raise error(rows)
