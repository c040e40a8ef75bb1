"""Singer JSON Schema -> Spark StructType translation.

Parity port of the reference's converter
(`/root/reference/target_iceberg/iceberg.py:9-134`,
``singer_to_pyarrow_schema_without_field_ids``), re-targeted at Spark
types. The full semantics table lives in SURVEY.md §1.2; every branch
below cites the reference lines whose behavior it matches.

Deliberate divergences from the reference (each verified against the
reference by execution, recorded in SURVEY.md §1.2 / FIXTURES.md §B):

  1. ``anyOf: [T, null]`` with no string member maps to nullable T —
     the reference silently DROPS the field (iceberg.py:29-32 keeps
     only string/null members; the fall-through at iceberg.py:76-127
     then appends nothing). Data loss, fixed here.
  2. ``format: "time"`` maps to StringType — the reference crashes
     (iceberg.py:92-93 calls ``pa.time64()`` with no unit; Spark has
     no standalone TIME type anyway).
  3. ``format: "date"`` maps to DateType (day granularity) — the
     reference produces ``date64`` (millisecond), but Iceberg/Spark
     DATE is day-granularity; same calendar semantics.

Behaviors replicated on purpose:
  - datetime/date coercion applies ONLY to top-level fields; a
    formatted string nested inside a struct or array stays a string
    (iceberg.py:87-89 — "only at level 1 of a record").
  - integers are always 64-bit, numbers always float64
    (iceberg.py:76-81); no decimal, no map type.
  - a property with no ``type`` defaults to nullable string
    (iceberg.py:72-74).
  - nullability = presence of "null" in the type union (iceberg.py:77
    et al.).
  - in an ``anyOf`` with a string member, the reference keeps only
    string/null and applies the FIRST format seen (iceberg.py:29-33).

The reference's field-ID assignment (iceberg.py:137-153) and
Arrow->Iceberg schema conversion (iceberg.py:163-166) have no engine
equivalent: Spark's Iceberg writer assigns field IDs itself.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

logger = logging.getLogger(__name__)

_PRIMITIVES: dict[str, DataType] = {
    "integer": LongType(),  # iceberg.py:76-78
    "number": DoubleType(),  # iceberg.py:79-81
    "boolean": BooleanType(),  # iceberg.py:82-84
    "string": StringType(),  # iceberg.py:96-97
}


def _resolve_anyof(any_of: list[dict[str, Any]]) -> tuple[list[str], str | None]:
    """Reduce an ``anyOf`` union to (types, format).

    Mirrors ``process_anyof_schema`` (iceberg.py:12-33): collect every
    member's type(s); first format wins. Where the reference then keeps
    only string/null members (dropping e.g. integer entirely —
    iceberg.py:29-32), we keep all members so divergence 1 can map
    ``anyOf:[integer,null]`` to nullable LONG.
    """
    types: list[str] = []
    fmt: str | None = None
    for member in any_of:
        t = member.get("type")
        if isinstance(t, str):
            types.append(t)
        elif isinstance(t, list):
            types.extend(t)
        if fmt is None and member.get("format"):
            fmt = member["format"]
    return types, fmt


def _string_type_for_format(fmt: str | None, level: int) -> DataType:
    """Top-level formatted strings become temporal types (iceberg.py:87-95);
    nested ones stay strings (level check at iceberg.py:87-89)."""
    if level > 0 or not fmt:
        return StringType()
    if fmt == "date":
        return DateType()  # divergence 3: date64 -> DateType
    if fmt == "time":
        return StringType()  # divergence 2: reference crashes here
    # "date-time" and any other format (iceberg.py:94-95)
    return TimestampType()


def _field_type(prop: dict[str, Any], level: int, name: str) -> tuple[DataType, bool] | None:
    """Translate one JSON-Schema property. Returns (type, nullable) or
    None when the field should be dropped (empty object — iceberg.py:121-126)."""
    if "anyOf" in prop:
        from_anyof = True
        types, fmt = _resolve_anyof(prop["anyOf"])
    else:
        from_anyof = False
        raw = prop.get("type")
        if raw is None:
            # iceberg.py:72-74 — missing type defaults to string|null
            logger.warning("property %r has no type; defaulting to nullable string", name)
            types, fmt = ["string", "null"], prop.get("format")
        else:
            types = [raw] if isinstance(raw, str) else list(raw)
            fmt = prop.get("format")

    nullable = "null" in types  # iceberg.py:77 et al.
    concrete = [t for t in types if t != "null"]
    if not concrete:
        # pure-null anyOf: reference drops the field; we keep a nullable
        # string so no data path silently vanishes (divergence 1 family).
        logger.warning("property %r has only null members; using nullable string", name)
        return StringType(), True

    if from_anyof and "string" in concrete:
        # Mixed-concrete anyOf keeps the string member, matching the
        # reference (iceberg.py:29-33 retains only string/null members):
        # string is the only type every member's values can carry —
        # picking e.g. LongType for anyOf:[integer,string] would fail
        # the drain on string-valued records, while a string slot
        # stores any scalar as its text (sources/singer.py::_coerce_value).
        t = "string"
    else:
        t = concrete[0]  # first concrete type wins, matching iceberg.py:33/76+
    if t == "string":
        return _string_type_for_format(fmt, level), nullable
    if t in _PRIMITIVES:
        return _PRIMITIVES[t], nullable
    if t == "array":
        items = prop.get("items")
        if not items:
            # iceberg.py:110-116 produces list<null>; NullType elements
            # are unusable in Spark writes — warn and use string.
            logger.warning("array %r has no items schema; element type -> string", name)
            return ArrayType(StringType(), containsNull=True), nullable
        # iceberg.py:98-109 / 35-58: recurse; item level >= 1 so no
        # datetime coercion inside arrays.
        translated = _field_type(items, level + 1, f"{name}[]")
        if translated is None:
            return None
        elem, _ = translated
        # containsNull stays True regardless of the items schema: Arrow
        # list element fields are nullable by default, which is what the
        # reference's pa.list_(item_type) produces (iceberg.py:98-109).
        return ArrayType(elem, containsNull=True), nullable
    if t == "object":
        props = prop.get("properties") or {}
        if not props:
            # iceberg.py:121-126: "parquet doesn't support empty struct" —
            # reference emits an empty struct; we drop the field.
            logger.warning("object %r has no properties; dropping field", name)
            return None
        return _struct_for(props, level + 1), nullable
    logger.warning("unknown JSON-Schema type %r for %r; using string", t, name)
    return StringType(), True


def _struct_for(properties: dict[str, Any], level: int) -> StructType:
    fields: list[StructField] = []
    for field_name, prop in properties.items():
        translated = _field_type(prop, level, field_name)
        if translated is None:
            continue
        dtype, nullable = translated
        fields.append(StructField(field_name, dtype, nullable))
    return StructType(fields)


def json_schema_to_struct_type(schema: dict[str, Any]) -> StructType:
    """Translate a Singer stream's JSON Schema into a Spark StructType.

    ``schema`` is the value of the Singer SCHEMA message's ``schema``
    key (i.e. has a ``properties`` dict), matching what the reference
    feeds ``singer_to_pyarrow_schema`` (reference sinks.py:80-81).
    """
    return _struct_for(schema.get("properties") or {}, level=0)
