"""Schema <-> metadata-string conversion.

The reference platform carries schemas as two comma-joined strings:
``MetaData`` (column names) and ``MetaDataType`` (type names) — parsed at
``R/DataFrameOperationR.R:148-153`` / ``:179-184`` and emitted at
``:232-246``. The emit side had a bug (it introspected a global ``dfset``
instead of its argument, ``:237-246``); we implement the intent: introspect
the DataFrame that is passed in.

Types ride in a small vocabulary; the reference used R ``typeof`` names
(logical/integer/double/character). We map both those and Spark DDL names
into a canonical set so round-tripping is stable. Any other name — the
``decimal(12,2)``, ``struct<...>`` or ``map<...>`` that
:func:`metadata_from_schema` emits — is parsed as a Spark DDL type.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "schema_from_metadata",
    "metadata_from_schema",
    "manifest_for",
    "json_key_census",
    "parse_fixed_width",
]

# R-typeof / loose names → Spark types (reference vocabulary:
# R/DataFrameOperationR.R:237-246 `sapply(df, typeof)` output values).
_NAME_TO_TYPE: dict[str, T.DataType] = {
    "logical": T.BooleanType(),
    "boolean": T.BooleanType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "numeric": T.DoubleType(),
    "character": T.StringType(),
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}


def _type_from_name(name: str) -> T.DataType:
    """One ``MetaDataType`` entry as a Spark type. Vocabulary names map
    without a JVM call; any other name is parsed by
    ``DataType.fromDDL``, which needs an active session. A name that does
    not parse, or that finds no session, falls back to string."""
    name = name.strip()
    dt = _NAME_TO_TYPE.get(name.lower())
    if dt is not None:
        return dt
    if name:
        try:
            return T.DataType.fromDDL(name)
        except (AnalysisException, PySparkRuntimeError):
            pass
    return T.StringType()


def _split_top_level(s: str) -> list[str]:
    """Split ``s`` on the commas outside ``()`` and ``<>`` — so
    ``decimal(12,2)`` and ``map<string,int>`` stay whole — dropping
    blank parts."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def schema_from_metadata(metadata: str, metadata_type: str) -> T.StructType:
    """Build a StructType from (MetaData, MetaDataType) comma-strings.

    ``schema_from_metadata("a, b", "integer, character")`` →
    ``StructType([a int, b string])``. Type names are split on top-level
    commas only, so ``"decimal(12,2), bigint"`` is two types, and each is
    resolved by :func:`_type_from_name`. Unknown type names fall back to
    string, matching the reference's behavior of never enforcing types on
    read (``read.csv`` inference, ``:43``) — but unlike the reference we
    *apply* the schema at scan so Catalyst can push down and prune.
    """
    names = [n.strip() for n in metadata.split(",") if n.strip()]
    type_names = _split_top_level(metadata_type)
    type_names += ["string"] * (len(names) - len(type_names))
    return T.StructType(
        [
            T.StructField(name, _type_from_name(tn), True)
            for name, tn in zip(names, type_names)
        ]
    )


def _canonical_type_name(dt: T.DataType) -> str:
    return dt.simpleString()


def metadata_from_schema(df: DataFrame) -> tuple[str, str]:
    """DataFrame → (MetaData, MetaDataType) strings, comma-joined.

    The Spark form of the reference's ``paste(colnames, collapse=", ")`` +
    ``sapply(df, typeof)`` (``R/DataFrameOperationR.R:234-246``), with the
    global-variable bug fixed: we introspect the argument.
    """
    names = ", ".join(f.name for f in df.schema.fields)
    types = ", ".join(_canonical_type_name(f.dataType) for f in df.schema.fields)
    return names, types


def manifest_for(
    df: DataFrame,
    data_location: str,
    model_location: str = "",
    pmml_location: str = "",
) -> dict[str, str]:
    """Result manifest (reference A21, ``R/DataFrameOperationR.R:290-296``)
    as a plain dict; the backtick/bracket wire-escaping of the reference is
    a REST-boundary quirk that callers apply only when talking to the
    orchestrator (see compat.update_job).
    """
    metadata, metadata_type = metadata_from_schema(df)
    return {
        "MetaData": metadata,
        "MetaDataType": metadata_type,
        "DataLocation": data_location,
        "ModelLocation": model_location,
        "PMMLLocation": pmml_location,
    }


def json_key_census(df: DataFrame, json_col: str) -> DataFrame:
    """B26/B28 — schema discovery over a semi-structured JSON column:
    which top-level keys exist, how often, and with how many distinct
    (text) values — the profiling pass you run on an events/props blob
    BEFORE designing its typed extraction (the reference's JSON-cell
    surface, ``R/DataFrameOperationR.R:109-123``, never looks inside;
    this is the inside view).

    Dynamic by construction: each cell parses as ``map<string,string>``
    (``from_json``) and the map explodes to (key, value) rows — no
    hardcoded path list anywhere (``get_json_object`` cannot do this:
    its path must be a literal). Rows whose cell is NULL or invalid
    JSON contribute nothing (``from_json`` → NULL map → explode drops
    the row; stated contract). Values compare as their STRING-coerced
    form (numbers "123", booleans "true"), so 1 vs "1" collapse — the
    census is a shape profile, not a type checker.

    Plan: one scan, one explode sized |keys-per-row|, one two-aggregate
    hash group by key. Output: (key, n_rows long, n_distinct_values
    long) — vocabulary-of-keys sized.
    """
    keyed = df.select(
        F.explode(
            F.from_json(F.col(json_col), "map<string,string>")
        ).alias("key", "_v")
    )
    return keyed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_v").alias("n_distinct_values"),
    )


def parse_fixed_width(
    lines: DataFrame,
    layout: "list[tuple[str, int, int, str]]",
    value_col: str = "value",
) -> DataFrame:
    """B1 — fixed-width layout parser: the mainframe/COBOL-copybook/
    FTP-drop ingestion format the text source cannot split by itself.
    ``layout`` is ``(name, start, length, dtype)`` per field with
    1-BASED byte positions (copybook convention); each field is
    substring-sliced from ``value_col``, right-trimmed (fixed-width
    records pad fields to width with trailing spaces; numeric fields
    are typically left-padded, and string→number casts trim both ends),
    and ``try_cast`` to ``dtype`` — a malformed field yields NULL
    instead of failing the scan (the PERMISSIVE convention of the CSV/
    JSON readers), including under ANSI mode.

    Pure substring/trim/cast expressions — whole-stage codegen'd inside
    the scan stage, no shuffle, no Python; at 100 TB this is exactly as
    fast as the text scan itself. Overlapping or gapped layouts are
    legal (real copybooks have fillers and redefines).
    """
    if not layout:
        raise ValueError("layout must name at least one field")
    cols = []
    for name, start, length, dtype in layout:
        if start < 1 or length < 1:
            raise ValueError(
                f"field {name!r}: start/length are 1-based positive "
                f"(got start={start}, length={length})"
            )
        c = F.rtrim(F.substring(F.col(value_col), int(start), int(length)))
        if dtype not in ("string", "character"):
            c = c.try_cast(dtype)
        cols.append(c.alias(name))
    return lines.select(*cols)
