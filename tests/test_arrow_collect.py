"""ArrowCollectDataFrame parity: collect() must return exactly what
classic collect() returns — same Row semantics, values, and Python
types — across the type matrix the contract queries use, and fall
back to the classic path for unverified types (binary)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDF
from pyspark.sql.types import Row

from elasticsearch_spark.arrow_collect import (
    ArrowCollectDataFrame, arrow_collected,
)


def _both(df):
    wrapped = arrow_collected(df)
    return wrapped.collect(), ClassicDF.collect(df)


def _assert_same(arrow_rows, classic_rows):
    assert len(arrow_rows) == len(classic_rows)
    for a, c in zip(arrow_rows, classic_rows):
        assert isinstance(a, Row)
        assert tuple(a.__fields__) == tuple(c.__fields__)
        assert tuple(a) == tuple(c)
        for va, vc in zip(a, c):
            assert type(va) is type(vc), (va, vc)


def test_type_matrix_parity(spark):
    df = spark.range(5).select(
        F.col("id").cast("long").alias("l"),
        F.col("id").cast("int").alias("i"),
        (F.col("id") / 3.0).alias("d"),
        F.col("id").cast("string").alias("s"),
        (F.col("id") % 2 == 0).alias("b"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("l_null"),
        F.to_date(F.lit("2024-03-01")).alias("dt"),
        F.to_timestamp(F.lit("2024-03-01 12:34:56")).alias("ts"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        F.struct(F.col("id").alias("x"),
                 F.col("id").cast("string").alias("y")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.col("id").cast("decimal(10,2)").alias("dec"),
    )
    a, c = _both(df)
    _assert_same(a, c)
    r = a[0]
    assert isinstance(r.dt, datetime.date)
    assert isinstance(r.ts, datetime.datetime)
    assert isinstance(r.dec, Decimal)
    assert isinstance(r.st, Row) and r.st.x == 0
    assert r.m == {"k": 0}
    assert a[1].l_null is None


def test_row_attribute_and_asdict(spark):
    df = spark.range(3).select(F.col("id").alias("doc_id"),
                               (F.col("id") * 1.5).alias("score"))
    rows = arrow_collected(df).collect()
    assert rows[1].doc_id == 1 and rows[1].score == 1.5
    assert rows[2].asDict() == {"doc_id": 2, "score": 3.0}
    assert repr(rows[0]) == "Row(doc_id=0, score=0.0)"


def test_binary_falls_back_to_classic(spark):
    df = spark.range(2).select(
        F.col("id"), F.encode(F.col("id").cast("string"), "utf-8").alias("bin"))
    rows = arrow_collected(df).collect()
    classic = ClassicDF.collect(df)
    assert [tuple(r) for r in rows] == [tuple(r) for r in classic]
    assert type(rows[0].bin) is type(classic[0].bin)


def test_schema_fallback_reports_once(spark, monkeypatch, capfd):
    from elasticsearch_spark import arrow_collect as ac

    monkeypatch.setattr(ac, "_schema_fallback_reported", False)
    df = spark.range(3).select(
        F.col("id"), F.encode(F.col("id").cast("string"), "utf-8").alias("bin"))
    capfd.readouterr()
    first = arrow_collected(df).collect()
    second = arrow_collected(df).collect()
    lines = capfd.readouterr().err.splitlines()
    assert [ln for ln in lines if ln.startswith("arrow_collect:")] == [
        "arrow_collect: falling back to classic collect (no verified "
        "Arrow parity for binary; reported once)"]
    classic = [tuple(r) for r in ClassicDF.collect(df)]
    assert [tuple(r) for r in first] == [tuple(r) for r in second] == classic


def test_empty_result(spark):
    df = spark.range(5).filter(F.col("id") < 0)
    assert arrow_collected(df).collect() == []


def test_wrapped_frame_still_a_dataframe(spark):
    df = arrow_collected(spark.range(10).select(F.col("id")))
    assert isinstance(df, ArrowCollectDataFrame)
    # transforms keep working (and return plain frames)
    assert df.filter(F.col("id") >= 8).count() == 2
    assert df.schema.fieldNames() == ["id"]


def test_large_frame_parity(spark):
    # large enough to span several arrow batches / partitions
    df = (spark.range(0, 200_000)
          .select(F.col("id"),
                  F.pmod(F.xxhash64("id"), F.lit(97)).alias("h")))
    a, c = _both(df)
    assert len(a) == len(c) == 200_000
    assert sorted(map(tuple, a)) == sorted(map(tuple, c))


@pytest.mark.parametrize("name", [
    "match_or", "agg_terms_metrics", "agg_date_histogram",
    "dedup_minhash_lsh", "text_fingerprint",
])
def test_contract_query_parity(spark, name):
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    df = fn(spark, "/root/testdata/sf0.001")
    assert isinstance(df, ArrowCollectDataFrame)
    arrow_rows = df.collect()
    classic_rows = ClassicDF.collect(df)
    key = repr
    assert sorted((tuple(r) for r in arrow_rows), key=key) == \
        sorted((tuple(r) for r in classic_rows), key=key)


def test_quiesce_path_parity(spark, monkeypatch):
    # force the large-collect JVM quiesce on a small frame and check it
    # changes nothing about the result (it only drains JVM garbage
    # before the row build)
    from elasticsearch_spark import arrow_collect as ac

    monkeypatch.setattr(ac, "_QUIESCE_MIN_ROWS", 0)
    df = (spark.range(0, 5_000)
          .select(F.col("id"), (F.col("id") * 3).alias("y")))
    a, c = _both(df)
    assert sorted(map(tuple, a)) == sorted(map(tuple, c))


def test_quiesce_reports_once(spark, monkeypatch, capsys):
    # the first quiesce in a process says whether System.gc() is live
    # or a no-op (-XX:+DisableExplicitGC); later ones stay quiet
    from elasticsearch_spark import arrow_collect as ac

    monkeypatch.setattr(ac, "_QUIESCE_MIN_ROWS", 0)
    monkeypatch.setattr(ac, "_quiesce_reported", False, raising=False)
    df = spark.range(0, 100)
    ac.arrow_collected(df).collect()
    ac.arrow_collected(df).collect()
    err = capsys.readouterr().err
    assert err.count("JVM quiesce") == 1
    assert "is active" in err or "is a NO-OP" in err


def test_quiesce_survives_broken_jvm_handle():
    from elasticsearch_spark import arrow_collect as ac

    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("no jvm")

    # _quiesce_jvm must swallow any py4j failure (best-effort)
    ac._quiesce_jvm(_Boom())
