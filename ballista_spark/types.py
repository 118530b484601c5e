"""Arrow ↔ Spark type mapping.

Reference surface: the wire `ArrowType` enum (``ballista.proto:750-785``) and
the Python string aliases (``python/src/datatypes.rs:256-269`` — "i32",
"utf8", "f64", "date32", …).  Policy decisions follow SURVEY.md §1.3/§7.4:

- unsigned ints widen to the next signed Spark type (UINT64 → DECIMAL(20,0));
- FLOAT16 maps to FloatType (the reference's own serde marks it should-fail);
- DICTIONARY is an encoding detail → its value type;
- UNION is rejected (unsupported in the reference's value tests too,
  ``rust/core/src/serde/logical_plan/mod.rs:395-413``).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

__all__ = ["arrow_name_to_spark", "spark_type_to_arrow_name", "schema"]

# Reference alias table: python/src/datatypes.rs:256-269 plus the full
# ArrowType enum names from ballista.proto:750-785 (lowercased).
_NAME_TO_TYPE: dict[str, T.DataType] = {
    "null": T.NullType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "i8": T.ByteType(),
    "int8": T.ByteType(),
    "i16": T.ShortType(),
    "int16": T.ShortType(),
    "i32": T.IntegerType(),
    "int32": T.IntegerType(),
    "i64": T.LongType(),
    "int64": T.LongType(),
    # Unsigned: widened to next signed type (no unsigned in Spark; the TPC-H
    # benchmark itself converts to signed "to benchmark tools that only
    # support signed integers, such as Apache Spark",
    # rust/benchmarks/tpch/src/main.rs:268-271).
    "u8": T.ShortType(),
    "uint8": T.ShortType(),
    "u16": T.IntegerType(),
    "uint16": T.IntegerType(),
    "u32": T.LongType(),
    "uint32": T.LongType(),
    "u64": T.DecimalType(20, 0),
    "uint64": T.DecimalType(20, 0),
    "f16": T.FloatType(),
    "float16": T.FloatType(),
    "f32": T.FloatType(),
    "float32": T.FloatType(),
    "float": T.FloatType(),
    "f64": T.DoubleType(),
    "float64": T.DoubleType(),
    "double": T.DoubleType(),
    "str": T.StringType(),
    "utf8": T.StringType(),
    "large_utf8": T.StringType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "large_binary": T.BinaryType(),
    "fixed_size_binary": T.BinaryType(),
    "date": T.DateType(),
    "date32": T.DateType(),
    "date64": T.DateType(),
    "timestamp": T.TimestampType(),
    "time32": T.LongType(),  # no Spark time-of-day type; convention: micros
    "time64": T.LongType(),
    "duration": T.DayTimeIntervalType(),
    "interval_yearmonth": T.YearMonthIntervalType(),
    "interval_daytime": T.DayTimeIntervalType(),
}


def arrow_name_to_spark(name: str) -> T.DataType:
    """Resolve an Arrow/Ballista type name or alias to a Spark DataType.

    Accepts the alias strings of ``python/src/datatypes.rs:256-269`` plus
    parameterized forms ``decimal(p,s)``, ``list<inner>``, ``struct<...>``
    via Spark's DDL parser.
    """
    key = name.strip().lower()
    if key in _NAME_TO_TYPE:
        return _NAME_TO_TYPE[key]
    if key == "union":
        raise ValueError(
            "Arrow UNION has no Spark equivalent and is unsupported "
            "(reference marks it should-fail: serde/logical_plan/mod.rs:395-413)"
        )
    if key.startswith("dictionary"):
        # encoding detail — use the value type if given as dictionary<k, v>
        inner = key[key.rfind(",") + 1 : key.rfind(">")].strip() if "<" in key else "string"
        return arrow_name_to_spark(inner)
    if key.startswith("list<") and key.endswith(">"):
        return T.ArrayType(arrow_name_to_spark(key[5:-1]))
    if key.startswith(("large_list<", "fixed_size_list<")) and key.endswith(">"):
        inner = key[key.index("<") + 1 : -1]
        # fixed_size_list<t, n> — drop the length (Spark arrays are unsized)
        inner = inner.rsplit(",", 1)[0] if key.startswith("fixed_size_list") else inner
        return T.ArrayType(arrow_name_to_spark(inner))
    m = re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", key)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    # struct<...>, map<...> — Spark DDL parser (requires an active session)
    return T._parse_datatype_string(name)  # type: ignore[attr-defined]


_SPARK_TO_NAME: list[tuple[type, str]] = [
    (T.NullType, "null"),
    (T.BooleanType, "bool"),
    (T.ByteType, "int8"),
    (T.ShortType, "int16"),
    (T.IntegerType, "int32"),
    (T.LongType, "int64"),
    (T.FloatType, "float32"),
    (T.DoubleType, "float64"),
    (T.StringType, "utf8"),
    (T.BinaryType, "binary"),
    (T.DateType, "date32"),
    (T.TimestampType, "timestamp"),
    (T.TimestampNTZType, "timestamp"),
    (T.YearMonthIntervalType, "interval_yearmonth"),
    (T.DayTimeIntervalType, "interval_daytime"),
]


def spark_type_to_arrow_name(dt: T.DataType) -> str:
    """Inverse mapping for display/round-trip tests."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_to_arrow_name(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{spark_type_to_arrow_name(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    if isinstance(dt, T.MapType):
        return (
            f"map<{spark_type_to_arrow_name(dt.keyType)},"
            f"{spark_type_to_arrow_name(dt.valueType)}>"
        )
    for cls, name in _SPARK_TO_NAME:
        if isinstance(dt, cls):
            return name
    raise ValueError(f"no Arrow name for Spark type {dt}")


def schema(fields: dict[str, str] | list[tuple[str, str]] | str) -> T.StructType:
    """Build a Spark schema from {name: arrow_type_name} pairs, or from
    a DDL column list ``"name type, ..."``.

    Mirrors the reference's explicit-schema CSV registration
    (``python/src/context.rs:84-139``: schema passed as field list) and
    its ``CREATE EXTERNAL TABLE`` column list.
    """
    if isinstance(fields, str):
        fields = _column_list(fields)
    items = fields.items() if isinstance(fields, dict) else fields
    return T.StructType(
        [T.StructField(n, arrow_name_to_spark(t), True) for n, t in items]
    )


def _column_list(ddl: str) -> list[tuple[str, str]]:
    """``name type, ...`` as (name, type) pairs; a type's own commas
    sit inside ``()`` or ``<>``."""
    pairs, depth, start = [], 0, 0
    for i, c in enumerate(ddl + ","):
        depth += (c in "(<") - (c in ")>")
        if c == "," and depth == 0:
            part = ddl[start:i]
            m = re.fullmatch(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+(.+?)\s*", part, re.S)
            if m is None:
                raise ValueError(f"cannot parse column definition {part!r}")
            pairs.append(m.groups())
            start = i + 1
    return pairs
