"""Type-inference and casting kernel (SURVEY §2.3 C2-C8).

The reference casts eagerly per column (casting.rs:11-219).  Spark-first
treatment: *two-pass* — one aggregation job computes per-column castability
stats, the driver picks target types, then a single projection applies the
casts.  At 100 TB the stats pass can run on a sample with a strict
``try_cast`` validation kept in the projection.

All expressions are built-in functions (whole-stage codegen); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import strict_check

# Multi-format date/datetime parse chains (C7/C8; ~ constants.rs:3-20,
# transform/data_processing/parsing.rs:23-60).  Spark datetime patterns.
DATE_FORMATS = [
    "yyyy-MM-dd",
    "yyyy.MM.dd",
    "MM/dd/yyyy",
    "dd-MM-yyyy",
    "dd.MM.yyyy",
    "d.M.yyyy",  # single-digit day/month variant ('21.1.2026')
]
# ISO 8601 datetimes (any of yyyy-MM-dd[ T]HH:mm[:ss[.S…]][zone]) go through
# Spark's own string → timestamp cast, on cells that start with yyyy-M.
DATETIME_FORMATS = ["yyyy/MM/dd HH:mm:ss"]
ISO_PREFIX_RX = r"^\d{4}-\d{1,2}"
BARE_YEAR_RX = r"^\d{4}$"
# Every DATE_FORMATS / DATETIME_FORMATS pattern, the ISO cast and the bare
# year need an ASCII digit first, after an optional sign ('-2020-01-15' and
# '+002020-01-15' parse as dates)
LEADING_DIGIT_RX = r"^[+-]?\d"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def try_cast(col: Column | str, target: str) -> Column:
    """ANSI-safe cast → null on failure (Column.try_cast; F.try_cast does
    not exist in PySpark 4.1)."""
    return _c(col).try_cast(target)


def parse_date_multi(col: Column | str) -> Column:
    """C7: first-success parse across DATE_FORMATS; bare year → Jan 1."""
    c = _c(col)
    attempts = [F.try_to_timestamp(c, F.lit(f)).cast("date") for f in DATE_FORMATS]
    bare_year = F.when(
        c.rlike(BARE_YEAR_RX), F.try_to_timestamp(F.concat(c, F.lit("-01-01")), F.lit("yyyy-MM-dd")).cast("date")
    )
    return F.coalesce(bare_year, *attempts)


def parse_datetime_multi(col: Column | str) -> Column:
    """C8: first-success datetime parse; bare year → Jan 1 midnight.  The
    ISO cast is guarded by its prefix: on a bare time of day it would fill
    in today's date."""
    c = _c(col)
    attempts = [F.try_to_timestamp(c, F.lit(f)) for f in DATETIME_FORMATS]
    iso = F.when(c.rlike(ISO_PREFIX_RX), try_cast(c, "timestamp"))
    return F.coalesce(*attempts, iso, parse_date_multi(c).cast("timestamp"))


def parse_bool(col: Column | str) -> Column:
    """C5: case-insensitive 'true'/'false' → bool; other non-null → null
    (callers pair with :func:`cast_failures` for the strict-error variant)."""
    c = _c(col)
    lowered = F.lower(F.trim(c))
    return (
        F.when(lowered == "true", F.lit(True))
        .when(lowered == "false", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def parse_int_via_float(col: Column | str) -> Column:
    """C6: '1.0' → 1.  Integral numerals cast to bigint exactly: integer
    literals directly (null when out of range), others through the double
    only below 2^53, where a double holds every integer exactly.  The
    double is tested first, so non-numeric cells skip the bigint cast."""
    c = _c(col)
    d = try_cast(c, "double")
    via_double = F.when(F.abs(d) < F.lit(float(2**53)), d.cast("bigint"))
    return F.when(is_integral_double(d), F.coalesce(try_cast(c, "bigint"), via_double))


def parse_wide_int(col: Column | str) -> Column:
    """Integer literals of up to 38 digits → decimal(38,0), exactly (C3's
    stage for integer columns too wide for bigint)."""
    c = _c(col)
    return F.when(c.rlike(r"^[+-]?\d{1,38}$"), try_cast(c, "decimal(38,0)"))


def is_integral_double(col: Column | str) -> Column:
    """Predicate used by C2: finite whole number within i64 range."""
    c = _c(col).cast("double")
    in_range = (c >= F.lit(float(-(2**63)))) & (c <= F.lit(float(2**63 - 1)))
    return c.isNotNull() & ~F.isnan(c) & (c == F.floor(c)) & in_range


# ---------------------------------------------------------------------------
# Two-pass inference (C2/C3)
# ---------------------------------------------------------------------------


def castability_stats(df: DataFrame, columns: list[str]) -> dict[str, dict[str, int]]:
    """Two-phase aggregation over all candidate columns, driving the
    driver-side decision for C2 (integral promotion) and C3 (ambivalent cast
    priority bool→int→decimal→float→date→datetime).

    Phase 1 (cheap: casts only) counts non-null / bool / int / decimal /
    float survivors and cells starting with a digit or sign.  Phase 2 runs
    the expensive multi-format date/datetime parse chains ONLY for string
    columns still undecided after phase 1 whose every cell starts that
    way — numeric, boolean and free-text columns never pay for six
    ``try_to_timestamp`` attempts.  Both phases are single jobs; at 100 TB
    run them on a sample and keep a strict ``try_cast`` validation in the
    cast projection."""
    # the parse chains are expensive per ROW, so a small input packed into
    # 1-2 scan splits serializes them (a few MB of parquet = one split, but
    # six try_to_timestamp chains × rows is seconds of CPU).  Fan the stats
    # input out to cluster parallelism when the scan is narrower; at scale
    # inputs arrive with >= parallelism splits and this is a no-op.
    # Measured: 5.6 s -> 1.5 s warm on the sf0.1 orders stats pass.
    from ..session import fan_out

    df = fan_out(df)
    dtypes = dict(df.dtypes)
    aggs: list[Column] = []
    for col in columns:
        c = F.col(col)
        dt = dtypes[col]
        aggs.append(F.count(c).alias(f"{col}__n"))
        if dt in ("double", "float", "int"):
            aggs.append(
                F.count(F.when(is_integral_double(c), 1)).alias(f"{col}__int")
            )
        elif dt == "string":
            s = F.trim(c)
            aggs.append(
                F.count(F.when(F.lower(s).isin("true", "false"), 1)).alias(f"{col}__bool")
            )
            aggs.append(F.count(parse_int_via_float(s)).alias(f"{col}__int"))
            aggs.append(F.count(parse_wide_int(s)).alias(f"{col}__decimal"))
            aggs.append(F.count(try_cast(s, "double")).alias(f"{col}__float"))
            aggs.append(F.count(F.when(s.rlike(LEADING_DIGIT_RX), 1)).alias(f"{col}__digit"))
    row = df.agg(*aggs).collect()[0].asDict()
    out: dict[str, dict[str, int]] = {}
    for k, v in row.items():
        col, stat = k.rsplit("__", 1)
        out.setdefault(col, {})[stat] = v
    # phase 2: date/datetime counts only where bool/int/decimal/float didn't
    # decide and every cell starts like a date (any other cell keeps the
    # date/datetime counts below n, so the chains could not decide)
    undecided = [
        col
        for col in columns
        if dtypes[col] == "string"
        and out[col].get("n", 0) > 0
        and out[col]["digit"] == out[col]["n"]
        and not any(out[col].get(t, -1) == out[col]["n"] for t in ("bool", "int", "decimal", "float"))
    ]
    if undecided:
        aggs2: list[Column] = []
        for col in undecided:
            s = F.trim(F.col(col))
            aggs2.append(F.count(parse_date_multi(s)).alias(f"{col}__date"))
            aggs2.append(F.count(parse_datetime_multi(s)).alias(f"{col}__datetime"))
        row2 = df.agg(*aggs2).collect()[0].asDict()
        for k, v in row2.items():
            col, stat = k.rsplit("__", 1)
            out.setdefault(col, {})[stat] = v
    return out


PRIORITY = ["bool", "int", "decimal", "float", "date", "datetime"]
_CAST_EXPRS = {
    "bool": parse_bool,
    "int": parse_int_via_float,
    "decimal": parse_wide_int,
    "float": lambda c: try_cast(_c(c), "double"),
    "date": parse_date_multi,
    "datetime": parse_datetime_multi,
}


def decide_ambivalent(stats: dict[str, int]) -> str | None:
    """C3 priority chain: first type where every non-null cell casts."""
    n = stats.get("n", 0)
    if n == 0:
        return None
    for t in PRIORITY:
        if stats.get(t, -1) == n:
            return t
    return None


def ambivalent_cast(df: DataFrame, columns: list[str] | None = None,
                    sample_fraction: float | None = None) -> DataFrame:
    """C3 over string columns + C2 over float/int32 columns, as one stats
    pass + one projection.

    ``sample_fraction`` runs the stats pass on a sample (the 100 TB path —
    measured 4× faster at sf0.1).  Decisions from a sample degrade
    gracefully: a mis-chosen target yields nulls for unparseable cells
    instead of an eager error; callers needing the strict contract follow
    with :func:`specific_cast` on the decided columns."""
    dtypes = dict(df.dtypes)
    if columns is None:
        columns = [c for c, t in dtypes.items() if t in ("string", "double", "float", "int")]
    if not columns:
        return df
    stats_src = df.sample(sample_fraction, seed=7) if sample_fraction else df
    stats = castability_stats(stats_src, columns)
    exprs = []
    for col in df.columns:
        if col not in columns:
            exprs.append(F.col(col))
            continue
        st = stats.get(col, {})
        dt = dtypes[col]
        if dt in ("double", "float", "int"):
            # C2 integral promotion
            if st.get("n", 0) > 0 and st.get("int", -1) == st.get("n"):
                exprs.append(F.col(col).cast("bigint").alias(col))
            else:
                exprs.append(F.col(col))
        else:
            target = decide_ambivalent(st)
            if target is None:
                exprs.append(F.col(col))
            else:
                exprs.append(_CAST_EXPRS[target](F.trim(F.col(col))).alias(col))
    return df.select(*exprs)


# ---------------------------------------------------------------------------
# Strict cast (C4) with bounded error collection (V6)
# ---------------------------------------------------------------------------


class CastError(ValueError):
    def __init__(self, column: str, target: str, examples: list):
        self.column, self.target, self.examples = column, target, examples
        super().__init__(
            f"column {column!r}: {len(examples)}+ values failed cast to {target}; "
            f"examples: {examples}"
        )


_SPECIFIC = {
    "boolean": parse_bool,
    "bigint": parse_int_via_float,
    "double": lambda c: try_cast(_c(c), "double"),
    "date": parse_date_multi,
    "timestamp": parse_datetime_multi,
    "string": lambda c: _c(c).cast("string"),
}


def specific_cast_expr(col: Column | str, target: str) -> Column:
    return _SPECIFIC[target](col)


def specific_cast(df: DataFrame, column: str, target: str, ledger=None) -> DataFrame:
    """C4: cast ``column`` to ``target`` (OutputDataType value); error listing
    up to 20 distinct offending raw values (V6 exhaustive-but-bounded) —
    check ``uncastable:<column>→<target>`` on a ``ledger``, see
    errors.strict_check."""
    casted = specific_cast_expr(F.col(column), target)
    strict_check(
        ledger, f"uncastable:{column}→{target}",
        df.filter(F.col(column).isNotNull() & casted.isNull()).select(column).distinct(),
        lambda bad: CastError(column, target, [r[0] for r in bad]),
    )
    return df.withColumn(column, casted)


def force_string(df: DataFrame, column: str) -> DataFrame:
    """Subject-id forced to string (~ preprocessor.rs:96-126).  Integral
    doubles stringify without the trailing '.0'."""
    c = F.col(column)
    dt = dict(df.dtypes)[column]
    if dt in ("double", "float"):
        expr = F.when(c == F.floor(c), c.cast("bigint").cast("string")).otherwise(
            c.cast("string")
        )
    else:
        expr = c.cast("string")
    return df.withColumn(column, expr)
