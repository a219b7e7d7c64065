"""Kind -> Spark DataType compiler.

The analog of the reference's Arrow type mapper
(arrow/type_converter.py:6-32) with its micro-syntax:

* ``T[]`` anywhere        -> ArrayType(T)            (type_converter.py:7-8)
* ``dictionary[k, v]``    -> MapType(k, v)           (type_converter.py:9-11)
* scalar kinds            -> Spark scalars           (type_converter.py:12-23)
* ``any`` / ``dict*``     -> StringType holding JSON (sql.py:77-80)
* refined scalar (enum)   -> recurse on runtime_kind (type_converter.py:26-27)
* complex kind            -> StructType              (type_converter.py:29-30)
* unknown                 -> raise                   (type_converter.py:31-32)

Reference bugs fixed, not replicated: ``float`` returns None there
(missing ``return``, type_converter.py:16-17); here it's FloatType.
Datetime/date map to TimestampType/DateType internally with the UTC
string codec applied at egress (reference sql.py:43-70), not stored as
strings.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from resotodatalink_spark.model.kinds import Kind, Model

_SCALARS: dict[str, T.DataType] = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "duration": T.StringType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "any": T.StringType(),  # JSON text
}

_DICT_RE = re.compile(r"^dictionary\[\s*(.+?)\s*,\s*(.+)\s*\]$")


def kind_to_spark_type(model: Model, kind_name: str) -> T.DataType:
    if "[]" in kind_name:
        return T.ArrayType(kind_to_spark_type(model, kind_name.replace("[]", "", 1)))
    if m := _DICT_RE.match(kind_name):
        return T.MapType(
            kind_to_spark_type(model, m.group(1)),
            kind_to_spark_type(model, m.group(2)),
        )
    if kind_name.startswith("dict"):
        return T.StringType()  # JSON blob (reference sql.py:77-78)
    if kind_name in _SCALARS:
        return _SCALARS[kind_name]
    if kind := model.kinds.get(kind_name):
        if kind.runtime_kind is not None:
            return kind_to_spark_type(model, kind.runtime_kind)
        if kind.properties:
            return T.StructType(
                [
                    T.StructField(p.name, kind_to_spark_type(model, p.kind), True)
                    for p in kind.properties
                ]
            )
    raise ValueError(f"Unknown kind: {kind_name}")


def table_schema(model: Model, kind: Kind) -> T.StructType:
    """Flattened per-kind table schema: _id + inherited props + carz
    (reference arrow/model.py:31-36 / sql.py:182-188)."""
    props, _ = model.kind_properties(kind, with_id=True)
    return T.StructType(
        [T.StructField(p.name, kind_to_spark_type(model, p.kind), True) for p in props]
    )


def reported_schema(model: Model, kind: Kind) -> T.StructType:
    """Schema for parsing the raw ``reported`` JSON of one kind: the
    flattened props WITHOUT _id/carz (those come from the envelope)."""
    props, _ = model.kind_properties(kind, with_id=False)
    own = [p for p in props if p.name not in ("cloud", "account", "region", "zone")]
    return T.StructType(
        [T.StructField(p.name, kind_to_spark_type(model, p.kind), True) for p in own]
    )


def link_table_schema() -> T.StructType:
    """(from_id, to_id) — reference schema_utils.py:33-36 / sql.py:190-201."""
    return T.StructType(
        [
            T.StructField("from_id", T.StringType(), True),
            T.StructField("to_id", T.StringType(), True),
        ]
    )
