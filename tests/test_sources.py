"""Source/sink round-trips: CSV (incl. corrupt-record policies), JSON
and ORC."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.sources.csv_source import read_dirty_csv


def test_csv_failfast_and_dropmalformed(spark, tmp_path):
    p = tmp_path / "typed.csv"
    p.write_text("a,b\n1,x\nnot_an_int,y\n3,z\n", encoding="utf-8")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    ok = read_dirty_csv(
        spark, str(p), schema=schema, encoding="UTF-8", mode="DROPMALFORMED"
    )
    assert [r.a for r in ok.collect()] == [1, 3]

    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        read_dirty_csv(
            spark, str(p), schema=schema, encoding="UTF-8", mode="FAILFAST"
        ).collect()


def test_csv_corrupt_column_quarantine(spark, tmp_path):
    p = tmp_path / "typed2.csv"
    p.write_text("a,b\n1,x\nbad_row_value,y\n", encoding="utf-8")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    df = read_dirty_csv(
        spark, str(p), schema=schema, encoding="UTF-8", corrupt_column="_corrupt"
    ).cache()
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 1 and bad.count() == 1
    assert bad.collect()[0]._corrupt.startswith("bad_row_value")


def test_json_roundtrip(spark, tmp_path):
    df = spark.range(50).select(
        F.col("id"),
        F.struct(F.col("id").alias("a"), (F.col("id") * 2).alias("b")).alias("nested"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
    )
    p = str(tmp_path / "j")
    df.write.json(p)
    back = spark.read.schema(df.schema).json(p)
    assert back.count() == 50
    row = back.filter(F.col("id") == 7).collect()[0]
    assert row.nested.b == 14 and list(row.arr) == [7, 8]


def test_orc_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 3)
    p = str(tmp_path / "o")
    df.write.orc(p)
    assert spark.read.orc(p).agg(F.sum("v")).collect()[0][0] == sum(3 * i for i in range(100))

