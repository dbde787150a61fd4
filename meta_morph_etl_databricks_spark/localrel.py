"""TRUE local relations from bounded driver rows.

``spark.createDataFrame`` on Python data builds an RDD-BACKED frame:
the rows are serialized into a JavaRDD partition that every ACTION
re-scans and re-deserializes, and every broadcast over it runs a full
parent stage.  Measured on this host (local[32], warm session): a
5-row createDataFrame frame costs ~0.30 s PER ACTION (collect/count),
while the same rows rendered as a parsed SQL ``VALUES`` literal are a
genuine ``LocalTableScan`` — constant-foldable, broadcast without a
parent stage, ~6 ms to collect.  Serve paths that join against
driver-computed literals (codebooks, driver-Lloyd assignments, label
dims, per-query probe state) pay that tax once per arm per action, so
the literal form is the right default for BOUNDED driver data.

Scale contract: literal SQL grows linearly with the data, and the
parser is the wrong tool past a few MB — :func:`literal_frame` refuses
(falls back to ``createDataFrame``) beyond ``_MAX_SQL_BYTES`` so an
unbounded caller degrades to the old shape instead of stalling the
parser.  Unbounded/large frames should never come through here.
"""

from __future__ import annotations

import math
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

# past this rendered size, parsing stops being cheaper than the RDD tax
# and parser memory becomes a concern — fall back to createDataFrame
_MAX_SQL_BYTES = 8 * 1024 * 1024

_INT_TYPES = (ByteType, ShortType, IntegerType, LongType)


def _sql_lit(v: Any, dt: DataType) -> str:
    """Render one Python value as a Spark SQL literal of exactly ``dt``.

    Doubles go through ``repr`` — the shortest decimal that round-trips
    to the same IEEE double, which Spark's literal parser reproduces
    bit-for-bit (non-finite values via CAST, which yields the canonical
    NaN/±Infinity, same as createDataFrame's converter)."""
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, _INT_TYPES):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, DoubleType):
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(f):
            return f"CAST('{'-' if f < 0 else ''}Infinity' AS DOUBLE)"
        return repr(f) + "D"
    if isinstance(dt, FloatType):
        # collect() widens float32 to the exactly-representing double;
        # its repr CAST back to FLOAT reproduces the same float32 bits
        f = float(v)
        if math.isnan(f):
            return "CAST('NaN' AS FLOAT)"
        if math.isinf(f):
            return f"CAST('{'-' if f < 0 else ''}Infinity' AS FLOAT)"
        return f"CAST({repr(f)}D AS FLOAT)"
    if isinstance(dt, StringType):
        s = (
            str(v)
            .replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\t", "\\t")
            .replace("\x00", "\\0")
        )
        return f"'{s}'"
    if isinstance(dt, BooleanType):
        return "true" if v else "false"
    if isinstance(dt, ArrayType):
        if not len(v):
            return f"CAST(array() AS {dt.simpleString()})"
        return "array(" + ", ".join(_sql_lit(e, dt.elementType) for e in v) + ")"
    raise NotImplementedError(f"literal_frame: unsupported literal type {dt}")


def literal_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[Any]],
    schema: StructType | str,
) -> DataFrame:
    """A LocalRelation-backed DataFrame from bounded driver rows.

    ``rows``: positional sequences (tuples/Rows) matching ``schema``
    (a StructType or DDL string).  Values must round-trip as literals
    (ints, doubles incl. NaN/±Inf, strings, booleans, arrays, NULLs) —
    bit-exact with what createDataFrame would store, pinned by
    tests/test_round15_optimization.py.  Falls back to
    ``createDataFrame`` when the rendered SQL would exceed the parser
    budget (unbounded inputs keep working, just on the old RDD shape).
    """
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    rows = list(rows)
    cols = ", ".join(f"`{f.name}`" for f in st.fields)
    if not rows:
        if not all(f.nullable for f in st.fields):
            # a typed-NULL row can't carry a non-nullable field, and the
            # empty RDD costs nothing per action
            return spark.createDataFrame([], st)
        # zero VALUES rows can't be spelled; a WHERE FALSE over one
        # typed-NULL row optimizes to the same empty LocalRelation
        nulls = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`" for f in st.fields
        )
        return spark.sql(f"SELECT * FROM (SELECT {nulls}) WHERE 1 = 0")
    lits = [", ".join(_sql_lit(v, f.dataType) for v, f in zip(r, st.fields)) for r in rows]
    # VALUES infers nullable=false from all-non-null literals, but the
    # CALLER's nullability must hold so the frame is a drop-in for the
    # createDataFrame original (schema-equality pins depend on it).  A
    # SENTINEL row — typed NULL in every nullable field, the first
    # row's value in non-nullable ones — filtered back out by a marker
    # column makes the analyzer infer exactly the requested nullability
    # (the analyzed plan is where DataFrame.schema comes from); the
    # optimizer still folds filter+project into the LocalRelation.
    if any(f.nullable for f in st.fields):
        pad = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()})"
            if f.nullable
            else _sql_lit(v, f.dataType)
            for v, f in zip(rows[0], st.fields)
        )
        vals = ", ".join(f"({r}, true)" for r in lits) + f", ({pad}, false)"
        sql = f"SELECT {cols} FROM VALUES {vals} AS t({cols}, `__keep`) WHERE `__keep`"
    else:
        vals = ", ".join(f"({r})" for r in lits)
        sql = f"SELECT * FROM VALUES {vals} AS t({cols})"
    if len(sql) > _MAX_SQL_BYTES:
        return spark.createDataFrame(rows, st)
    return spark.sql(sql)
