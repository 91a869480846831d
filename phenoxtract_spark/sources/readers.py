"""Scans/sources (SURVEY §2.1 S1-S5, S7-S8).

CSV is the native distributed path (S1).  Excel (S2) has no JVM codec: the
reader parses on the driver (stdlib OOXML, :mod:`.xlsx`) and, like the
transposed CSV path, lands in a JVM ``LocalRelation`` (``session.local_frame``)
— acceptable because spreadsheets are config-scale inputs; 100 TB data
arrives as CSV/parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


def default_column_names(n: int) -> list[str]:
    """S4 (~ extract/utils.rs:1-3): headerless columns named "0".."n-1"."""
    return [str(i) for i in range(n)]


@dataclass
class ExtractionConfig:
    """S5 (~ extract/extraction_config.rs:7-27)."""

    name: str
    has_headers: bool = True
    patients_are_rows: bool = True
    separator: str = ","


#: Name of the optional ingest-order column (see :func:`attach_ingest_rownum`).
INGEST_ROWNUM = "_ingest_rownum"


def attach_ingest_rownum(df: DataFrame) -> DataFrame:
    """Attach a file-row-order column ``_ingest_rownum``.

    ``monotonically_increasing_id`` is a JVM expression; attached at the
    scan, before any exchange, its values increase in (input split,
    position in split) order, i.e. file row order, and depend only on the
    file splits.  The values jump between splits, so callers may only
    compare them, never read them: the collectors' last-ROW-wins upserts
    (builder.rs upserts) and the multi-HPO key order sort by this column."""
    from pyspark.sql import functions as F

    return df.withColumn(INGEST_ROWNUM, F.monotonically_increasing_id())


def read_csv(spark: SparkSession, path: str, cfg: ExtractionConfig,
             attach_rownum: bool = False) -> DataFrame:
    """S1 (~ extract/data_source.rs:82-128): CSV scan with separator/header
    options; headerless → synthetic names (S4).  Every column arrives as a
    string: ``Pipeline.preprocess`` alone decides column types (C3).

    ``patients_are_rows=False`` (S3) loads vectors from ROWS like the
    reference's loading-vector transpose: each file row becomes an output
    column (header = the row's first cell when ``has_headers``), each file
    COLUMN becomes an output row — duplicate patient columns survive as
    duplicate rows.  That path materializes on the driver: transposed
    tables are config-scale cohort spreadsheets by definition; 100 TB data
    arrives patients-are-rows.

    ``attach_rownum`` adds the ingest-order column
    (see :func:`attach_ingest_rownum`)."""
    reader = spark.read.option("sep", cfg.separator)
    if not cfg.patients_are_rows:
        # collect() concatenates partitions in index order, which is the
        # file's row order
        vectors = [list(r) for r in reader.option("header", "false").csv(path).collect()]
        df = vectors_to_df(spark, vectors, cfg.has_headers)
    else:
        df = reader.option("header", str(cfg.has_headers).lower()).csv(path)
        if not cfg.has_headers:
            df = df.toDF(*default_column_names(len(df.columns)))
    if attach_rownum:
        df = attach_ingest_rownum(df)
    return df


def _iso_duration_str(td) -> str:
    """timedelta → ISO-8601 duration string (what C9/C11 consume)."""
    total = td.total_seconds()
    sign = "-" if total < 0 else ""
    total = abs(total)
    days, rem = divmod(total, 86400)
    hours, rem = divmod(rem, 3600)
    minutes, secs = divmod(rem, 60)
    parts = [f"{sign}P"]
    if days:
        parts.append(f"{int(days)}D")
    if hours or minutes or secs or not days:
        parts.append("T")
        if hours:
            parts.append(f"{int(hours)}H")
        if minutes:
            parts.append(f"{int(minutes)}M")
        if secs or not (hours or minutes):
            s = f"{secs:.6f}".rstrip("0").rstrip(".")
            parts.append(f"{s}S")
    return "".join(parts)


def _stringify_excel_value(v) -> str | None:
    """Mixed-type column fallback (~ excel_range_reader.rs:144-154): every
    value of the column rendered as text."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.timedelta):
        return _iso_duration_str(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    return str(v)


def read_excel(spark: SparkSession, path: str, cfg: ExtractionConfig,
               sheet: str | int = 0) -> DataFrame:
    """S2 (~ extract/excel_range_reader.rs:23-159): typed-cell decode via
    the stdlib OOXML parser (:mod:`.xlsx` — no openpyxl dependency).

    Decode matrix parity: Empty/Error → null, Bool → bool, numbers → float,
    date-styled → timestamp, duration-styled → ISO-8601 duration STRING
    (the form the duration operators C9/C11 consume; the reference keeps a
    typed Duration(ms) column), strings '' → null, and a column mixing
    value types is stringified wholesale.  ``patients_are_rows=False``
    orients vectors from rows instead of columns BEFORE header extraction,
    like the reference's loading vectors."""
    import datetime as _dt

    from .xlsx import parse_xlsx

    grid = parse_xlsx(path, sheet)
    # loading vectors (~ :36-48): per-column when patients are rows,
    # per-row when patients are columns
    if cfg.patients_are_rows:
        vectors = [list(col) for col in zip(*grid)] if grid else []
    else:
        vectors = [list(r) for r in grid]
    return vectors_to_df(spark, vectors, cfg.has_headers)


def vectors_to_df(spark: SparkSession, vectors: list[list], has_headers: bool) -> DataFrame:
    """Loading vectors → typed Spark DataFrame
    (~ excel_range_reader.rs:124-159 convert_vectors_to_columns): header =
    first element (must be a string) or synthetic names; single-typed
    vectors keep their type, mixed vectors stringify wholesale."""
    import datetime as _dt

    names: list[str]
    if has_headers:
        names, datas = [], []
        for i, vec in enumerate(vectors):
            if not vec or not isinstance(vec[0], str):
                raise ValueError(
                    f"worksheet column {i}: header row is not a string "
                    f"(got {vec[0] if vec else None!r})"
                )
            names.append(vec[0])
            datas.append(vec[1:])
    else:
        names = default_column_names(len(vectors))
        datas = vectors
    cols: dict[str, list] = {}
    kinds: dict[str, str] = {}
    for name, data in zip(names, datas):
        types = {type(v) for v in data if v is not None}
        # bool is not an int subtype issue here: cells decode to exactly
        # one of float/bool/str/datetime/timedelta
        if len(types) > 1:
            data = [_stringify_excel_value(v) for v in data]
            types = {str}
        if types == {_dt.timedelta}:
            data = [None if v is None else _iso_duration_str(v) for v in data]
            types = {str}
        cols[name] = list(data)
        if types == {float}:
            kinds[name] = "float"
        elif types == {bool}:
            kinds[name] = "bool"
        elif types == {_dt.datetime}:
            kinds[name] = "ts"
        else:  # strings, or all-null column → string
            kinds[name] = "str"
    from pyspark.sql import types as T

    _SPARK_T = {
        "float": T.DoubleType(),
        "bool": T.BooleanType(),
        "ts": T.TimestampType(),
        "str": T.StringType(),
    }
    spark_fields = [T.StructField(n, _SPARK_T[kinds[n]], True) for n in names]
    # rows, not a pandas frame: see session.local_frame on NaN
    n_rows = max((len(d) for d in cols.values()), default=0)
    rows = [
        tuple(cols[n][i] if i < len(cols[n]) else None for n in names)
        for i in range(n_rows)
    ]
    return local_frame(spark, rows, T.StructType(spark_fields))


def load_config(path: str) -> dict:
    """S7 (~ config/config_loader.rs:8-43): YAML/TOML/JSON/RON config with
    ``${ENV}`` expansion."""
    import json

    with open(path) as f:
        raw = f.read()
    raw = os.path.expandvars(raw)
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml

            return yaml.safe_load(raw)
        except ImportError as e:
            raise NotImplementedError("yaml config requires pyyaml") from e
    if path.endswith(".toml"):
        import tomllib

        return tomllib.loads(raw)
    if path.endswith(".ron"):
        return parse_ron(raw)
    return json.loads(raw)


def parse_ron(text: str):
    """Minimal RON (Rusty Object Notation) reader covering the config
    subset the reference's loader accepts (config crate ``FileFormat::Ron``):
    structs/maps → dict, lists, strings, numbers, bools, ``Some(x)`` → x,
    ``None`` → None, bare identifiers (enum variants) → strings, ``//`` and
    ``/* */`` comments, trailing commas."""
    import re

    s = re.sub(r"//[^\n]*", "", text)
    s = re.sub(r"/\*.*?\*/", "", s, flags=re.DOTALL)
    pos = 0

    def skip_ws():
        nonlocal pos
        while pos < len(s) and s[pos].isspace():
            pos += 1

    def error(msg):
        line = s[:pos].count("\n") + 1
        return ValueError(f"RON parse error at line {line}: {msg}")

    def parse_value():
        nonlocal pos
        skip_ws()
        if pos >= len(s):
            raise error("unexpected end of input")
        ch = s[pos]
        if ch == "(":
            return parse_struct()
        if ch == "{":
            return parse_map()
        if ch == "[":
            return parse_list()
        if ch in "\"'":
            return parse_string(ch)
        m = re.match(r"[+-]?\d[\d_]*(\.[\d_]+)?([eE][+-]?\d+)?", s[pos:])
        if m and m.group(0):
            tok = m.group(0)
            pos += len(tok)
            tok = tok.replace("_", "")
            return float(tok) if ("." in tok or "e" in tok.lower()) else int(tok)
        m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", s[pos:])
        if not m:
            raise error(f"unexpected character {ch!r}")
        ident = m.group(0)
        pos += len(ident)
        if ident == "true":
            return True
        if ident == "false":
            return False
        if ident == "None":
            return None
        skip_ws()
        if pos < len(s) and s[pos] == "(":
            inner = parse_struct()
            if ident == "Some":
                # Some(x) unwraps; tuple-ish payloads keep the single value
                return inner
            # named struct / newtype enum variant → {variant: payload}
            return {ident: inner}
        return ident  # unit enum variant → its name

    def parse_string(quote):
        nonlocal pos
        pos += 1
        out = []
        while pos < len(s):
            c = s[pos]
            if c == "\\":
                nxt = s[pos + 1]
                out.append({"n": "\n", "t": "\t", "r": "\r"}.get(nxt, nxt))
                pos += 2
                continue
            if c == quote:
                pos += 1
                return "".join(out)
            out.append(c)
            pos += 1
        raise error("unterminated string")

    def parse_struct():
        # ( key: value, ... ) → dict; ( v1, v2 ) tuple → list; () → {}
        nonlocal pos
        pos += 1  # (
        skip_ws()
        if pos < len(s) and s[pos] == ")":
            pos += 1
            return {}
        # look ahead: identifier followed by ':' → struct fields
        save = pos
        m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", s[pos:])
        is_fields = False
        if m:
            after = pos + len(m.group(0))
            while after < len(s) and s[after].isspace():
                after += 1
            is_fields = after < len(s) and s[after] == ":"
        if not is_fields:
            pos = save
            items = []
            while True:
                items.append(parse_value())
                skip_ws()
                if s[pos] == ",":
                    pos += 1
                    skip_ws()
                if s[pos] == ")":
                    pos += 1
                    return items[0] if len(items) == 1 else items
        out = {}
        while True:
            skip_ws()
            if s[pos] == ")":
                pos += 1
                return out
            m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", s[pos:])
            if not m:
                raise error("expected field name")
            name = m.group(0)
            pos += len(m.group(0))
            skip_ws()
            if s[pos] != ":":
                raise error(f"expected ':' after field {name!r}")
            pos += 1
            out[name] = parse_value()
            skip_ws()
            if pos < len(s) and s[pos] == ",":
                pos += 1

    def parse_map():
        nonlocal pos
        pos += 1  # {
        out = {}
        while True:
            skip_ws()
            if s[pos] == "}":
                pos += 1
                return out
            key = parse_value()
            skip_ws()
            if s[pos] != ":":
                raise error("expected ':' in map")
            pos += 1
            out[key] = parse_value()
            skip_ws()
            if pos < len(s) and s[pos] == ",":
                pos += 1

    def parse_list():
        nonlocal pos
        pos += 1  # [
        out = []
        while True:
            skip_ws()
            if s[pos] == "]":
                pos += 1
                return out
            out.append(parse_value())
            skip_ws()
            if pos < len(s) and s[pos] == ",":
                pos += 1

    val = parse_value()
    skip_ws()
    if pos != len(s):
        raise error("trailing content after document")
    return val


def read_alias_map_csv(spark: SparkSession, path: str, key_col: str, alias_col: str) -> DataFrame:
    """S8 (~ config/try_from_config.rs:276-315): key→alias mapping table from
    CSV columns, destined for broadcast."""
    df = spark.read.option("header", "true").csv(path)
    return df.selectExpr(f"`{key_col}` as key", f"`{alias_col}` as value")
