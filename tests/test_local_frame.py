"""io.local_frame.literal_frame: values written into SQL text come back
unchanged, out-of-range integers raise, and the frame is a LocalRelation."""

from __future__ import annotations

import datetime

import pytest

from aos_spark.io.local_frame import literal_frame

HOSTILE = [
    "it's",
    "back\\slash \\' \\\\",
    "line1\nline2\r\ttab",
    "${spark.sql.shuffle.partitions}",
    "a -- comment /* block */ ;",
    "Zürich · 東京 · 🌀",
    "",
    None,
]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_hostile_strings_round_trip(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        df = literal_frame(
            spark, [(i, s) for i, s in enumerate(HOSTILE)], "i INT, s STRING"
        )
        got = [r["s"] for r in df.orderBy("i").collect()]
    finally:
        spark.conf.set(key, old)
    assert got == HOSTILE


def test_field_names_are_quoted(spark):
    df = literal_frame(spark, [(1, 2)], "`select` INT, `a b` INT")
    assert df.columns == ["select", "a b"]
    assert tuple(df.first()) == (1, 2)


def test_bigint_bounds(spark):
    lo, hi = -(2**63), 2**63 - 1
    df = literal_frame(spark, [(lo,), (hi,)], "v BIGINT")
    assert sorted(r["v"] for r in df.collect()) == [lo, hi]
    with pytest.raises(ValueError, match="out of range"):
        literal_frame(spark, [(2**63,)], "v BIGINT")
    with pytest.raises(ValueError, match="out of range"):
        literal_frame(spark, [(-(2**63) - 1,)], "v BIGINT")
    with pytest.raises(ValueError, match="out of range"):
        literal_frame(spark, [(2**31,)], "v INT")


def test_datetime_round_trip(spark):
    ts = datetime.datetime(2024, 1, 15, 6, 30, 12, 345678)
    df = literal_frame(spark, [(ts,), (None,)], "t TIMESTAMP")
    assert [r["t"] for r in df.collect()] == [ts, None]
    # the same value createDataFrame would store
    ref = spark.createDataFrame([(ts,)], "t TIMESTAMP")
    assert df.dropna().exceptAll(ref).count() == 0


@pytest.mark.parametrize("rows", [[], [("x", 1, None)]])
def test_schema_matches_create_data_frame(spark, rows):
    """Types and nullability as createDataFrame gives them (the parquet
    files a lifecycle writes carry the nullability)."""
    schema = "a STRING, b INT, c TIMESTAMP"
    df = literal_frame(spark, rows, schema)
    assert df.count() == len(rows)
    assert df.schema == spark.createDataFrame(rows, schema).schema


def test_plan_is_local_relation(spark):
    for rows in ([("x", 1.5)], []):
        df = literal_frame(spark, rows, "s STRING, d DOUBLE")
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", plan.toString()
