"""Machine-checkable baseline/scale-twin pairing (r10 verdict #3).

The registry deliberately keeps a few single-task-shaped queries: either
documented small-data BASELINES whose scale-safe twins are registered
(``queries_core.SCALE_TWINS``) or bounded/deliberate shapes with a stated
reason (``queries_core.SINGLE_TASK_PINS``).  Until this test, that
pairing lived in docstrings — a future query with an unpaired global
ntile/sort or an exact-percentile buffer could ship unnoticed.  Now the
flagged set is RE-DERIVED from every registered query's physical plan
and must equal the declared ledger exactly, in both directions: an
unlisted single-task query fails, and a stale ledger entry (the query
was fixed but the listing lingers) also fails.

Detector (deliberately over-approximate — boundedness is a human
judgment recorded in the pin reason, never inferred):
- an UNPARTITIONED windowspecdefinition (first spec argument carries a
  sort direction, i.e. no partition keys) — the single-task global
  window shape;
- a GLOBAL Sort (``Sort [...], true``) — an orderBy that isn't a
  TakeOrderedAndProject top-k;
- an exact ``percentile(`` aggregate — its merge buffer holds every
  value of its group in one task.
"""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"

_GLOBAL_SORT = re.compile(r"Sort \[[^\]]*\], true")


def _window_spec_bodies(plan: str) -> list[str]:
    """Each windowspecdefinition's argument list, extracted with a
    balanced-paren scan (the r11 ADVICE robustness fix: a first-`)`
    regex truncates when the first spec argument is itself a
    parenthesized expression, and the ' ASC NULLS' sniff then
    false-negatives)."""
    out, idx, key = [], 0, "windowspecdefinition("
    while True:
        start = plan.find(key, idx)
        if start < 0:
            return out
        depth, i = 1, start + len(key)
        while i < len(plan) and depth:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        out.append(plan[start + len(key):i - 1])
        idx = i


def _first_top_level_arg(body: str) -> str:
    depth = 0
    for i, c in enumerate(body):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return body[:i]
    return body


def single_task_flags(plan: str) -> list[str]:
    out = []
    for body in _window_spec_bodies(plan):
        first = _first_top_level_arg(body)
        if " ASC NULLS" in first or " DESC NULLS" in first:
            out.append("unpartitioned_window")
            break
    if _GLOBAL_SORT.search(plan):
        out.append("global_sort")
    if "percentile(" in plan:
        out.append("exact_percentile")
    return out


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as ent

    return ent.queries()


def test_twin_map_well_formed(registry):
    from phenoxtract_spark.queries_core import SCALE_TWINS, SINGLE_TASK_PINS

    for baseline, twin in SCALE_TWINS.items():
        assert baseline in registry, f"baseline {baseline} not registered"
        assert twin in registry, f"scale twin {twin} not registered"
        assert baseline != twin
    for name, reason in SINGLE_TASK_PINS.items():
        assert name in registry, f"pinned query {name} not registered"
        assert reason.strip(), f"pin {name} has no reason"
    overlap = set(SCALE_TWINS) & set(SINGLE_TASK_PINS)
    assert not overlap, f"listed as both baseline and pin: {overlap}"


def test_detector_flags_synthetic_unpaired_global_ntile(spark):
    """The red-flag drill the ledger exists for: a global-ntile query
    (the textbook single-task RFM shape) must trip the detector — if it
    were registered without a SCALE_TWINS/pin entry, the registry audit
    below would name it."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.range(100).select(
        F.ntile(4).over(Window.orderBy("id")).alias("q")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "unpartitioned_window" in single_task_flags(plan)
    # and the partitioned form must NOT trip it
    ok = spark.range(100).select(
        F.ntile(4).over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
        .alias("q")
    )
    ok_plan = ok._jdf.queryExecution().executedPlan().toString()
    assert single_task_flags(ok_plan) == []


def test_detector_survives_parenthesized_first_window_arg():
    """Crafted plan strings exercising the balanced-paren extraction:
    an unaliased parenthesized expression as the first spec argument
    (where the old first-`)` regex truncated before ' ASC NULLS') must
    still flag, and a PARTITIONED spec whose partition key carries
    nested parens must still pass clean."""
    flagged = (
        "Window [sum(w#3) windowspecdefinition((a#1 + b#2) ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS cum#9]"
    )
    assert "unpartitioned_window" in single_task_flags(flagged)
    partitioned = (
        "Window [sum(w#3) windowspecdefinition((g#1 % 7), _w0#5 ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS cum#9]"
    )
    assert single_task_flags(partitioned) == []


def test_registry_single_task_shapes_match_declared_ledger(spark, registry):
    """Build every registered query's physical plan at sf0.001 and
    compare the detector's flagged set against the declared ledger —
    EXACT equality, so neither an unpaired newcomer nor a stale entry
    survives.  (~3 min: this is the only gate that can see the whole
    registry's plan shapes; the driver-contract schema audit pays the
    same cost for result shapes.)

    The audit also captures the plan of every ``session.materialize``
    PARENT built while the query constructs — an eager mid-plan
    materialization otherwise HIDES its subtree from the registered plan
    (the gini precedent: its sweep offsets window moved inside the
    prefix-sum checkpoint and silently left this ledger).  The flagged
    set is the union over the final plan and all materialize-parent
    plans, so a single-task shape cannot ship unlisted no matter which
    side of a materialization barrier it lands on.  Every barrier in the
    package is a ``session.materialize`` call looked up on the module
    (test_session guards it), so patching that one function sees them
    all."""
    from phenoxtract_spark import session
    from phenoxtract_spark.queries_core import SCALE_TWINS, SINGLE_TASK_PINS

    captured: list[str] = []
    orig_materialize = session.materialize

    def probing_materialize(df):
        captured.append(df._jdf.queryExecution().executedPlan().toString())
        return orig_materialize(df)

    flagged = {}
    session.materialize = probing_materialize
    try:
        for name, fn in registry.items():
            captured.clear()
            df = fn(spark, SF)
            plans = [
                df._jdf.queryExecution().executedPlan().toString()
            ] + list(captured)
            fl = sorted({f for p in plans for f in single_task_flags(p)})
            if fl:
                flagged[name] = fl
    finally:
        session.materialize = orig_materialize

    declared = set(SCALE_TWINS) | set(SINGLE_TASK_PINS)
    unpaired = {n: f for n, f in flagged.items() if n not in declared}
    assert not unpaired, (
        "single-task plan shapes with neither a registered scale twin "
        f"(SCALE_TWINS) nor a pin reason (SINGLE_TASK_PINS): {unpaired}"
    )
    stale = declared - set(flagged)
    assert not stale, (
        "ledger entries whose queries no longer trip the detector — "
        f"remove them so the ledger stays honest: {sorted(stale)}"
    )
