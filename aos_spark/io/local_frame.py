"""Small local DataFrames as JVM LocalRelations (no Python at runtime).

``spark.createDataFrame(list_of_tuples, ...)`` routes through
``applySchemaToPythonRDD``: the rows become a PYTHON RDD whose scan
spins up Python workers and unpickles rows at QUERY RUN time — measured
~0.5-1.0 s per run for a 128-row codebook table (llm/pq), and 0.25-0.38 s
of wall time per action on a one-row run-log frame, charged to every
query that embeds such a frame (guide §4: eliminate the JVM↔Python
boundary).

The fix is NOT a literal-expression frame (an explode over an array of
literal structs): that re-creates the janino pathology pq.py already
documents — a multi-KB expression tree recompiled per action (measured
r16: the 128-row codebook as literal structs took pq_encode from 1.6 s
to 8.2 s warm). A SQL ``VALUES`` inline table instead resolves to a
**LocalRelation** during analysis — the rows become DATA held by the
plan, not expressions: zero codegen, zero Python, and broadcast builds
read them directly.

Callers: the PQ codebook (``llm.pq``); on the storm lifecycle, the zone
dim and threshold grid (``pipeline.jobs.zones_df`` / ``_thresholds_df``),
``update``'s idempotency candidate, and every control-plane row
(``pipeline.control``: run log, completion signal, country registry,
the empty frame of a missing table).

The rows are written into SQL text, and the run log carries storm ids and
exception messages from outside. Strings are therefore encoded as UTF-8
hex binary literals (``CAST(X'…' AS STRING)``): no quote, backslash,
newline, ``--`` or ``${…}`` in a value reaches the parser, so neither
``spark.sql.parser.escapedStringLiterals`` nor variable substitution can
change it. Integers are range-checked against their field's type instead
of wrapping.

Intended for SMALL frames (≤ a few thousand rows) of simple types;
larger driver-side data should be written to storage or parallelized.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _sql_literal(v, dt: T.DataType) -> str:
    ddl = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ddl})"
    if isinstance(v, bool):
        return f"CAST({'TRUE' if v else 'FALSE'} AS {ddl})"
    if isinstance(v, int):
        bits = _INT_BITS.get(type(dt))
        if bits and not -(2 ** (bits - 1)) <= v < 2 ** (bits - 1):
            raise ValueError(f"literal_frame: {v} out of range for {ddl}")
        return f"CAST({v} AS {ddl})"
    if isinstance(v, float):
        # repr() is the shortest round-trip decimal form; parsing it as
        # a double yields the identical IEEE value in any engine
        return f"CAST('{v!r}' AS {ddl})"
    if isinstance(v, Decimal):
        return f"CAST('{v}' AS {ddl})"
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS {ddl})"
    if isinstance(v, datetime.datetime) and isinstance(dt, T.TimestampType):
        return f"CAST(TIMESTAMP_MICROS({dt.toInternal(v)}) AS {ddl})"
    raise TypeError(f"literal_frame: unsupported value {v!r} for {ddl}")


def literal_frame(
    spark: SparkSession,
    rows: list[tuple],
    schema: str | T.StructType,
) -> DataFrame:
    """Build a small DataFrame from driver-local rows as a SQL VALUES
    inline table (analyzer-folded to a LocalRelation — plain data, no
    Python RDD and no literal expression tree at runtime). ``schema`` is
    a DDL string (``"a INT, b DOUBLE"``) or a StructType; every value is
    cast to its field's type, so None/ints/floats/strings/bools/Decimals
    and datetimes (TIMESTAMP fields) all land with the declared type.
    Every column is nullable, as createDataFrame makes them for a DDL
    schema. Raises ValueError for an integer outside its field's range."""
    st = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    cols = ", ".join("`" + f.name.replace("`", "``") + "`" for f in st.fields)
    # no rows: one typed NULL row under LIMIT 0 — still a LocalRelation
    lits = [
        [_sql_literal(v, f.dataType) for v, f in zip(row, st.fields)]
        for row in rows or [(None,) * len(st.fields)]
    ]
    # VALUES marks a column nullable only if some row's expression is:
    # wrap the first row's values so every column is nullable, as in a
    # createDataFrame frame, and so are the parquet columns it writes
    lits[0] = [f"IF(TRUE, {lit}, NULL)" for lit in lits[0]]
    body = ",\n".join("(" + ", ".join(row) + ")" for row in lits)
    limit = "" if rows else " LIMIT 0"
    return spark.sql(f"SELECT * FROM (VALUES {body}) AS __lf({cols}){limit}")
