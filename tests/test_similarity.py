"""Similarity-search semantics on constructed vectors and the exact
top-k paths on the real embeddings table."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.functions.vectors import cosine, dot, norm
from geoestate_etl_spark.operators.similarity import (
    brute_force_topk,
    make_hyperplanes,
)
from tests.conftest import SF_ORACLE

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),  # nearly identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.7071, 0.7071, 0.0, 0.0]),  # 45 degrees
    ]
    return spark.createDataFrame(rows, VEC_SCHEMA)


def test_vector_math(spark):
    df = spark.createDataFrame([(0, [3.0, 4.0], [1.0, 0.0])],
                               ["id", "a", "b"])
    row = df.select(
        dot("a", "b").alias("d"), norm("a").alias("n"), cosine("a", "b").alias("c")
    ).collect()[0]
    assert row.d == 3.0 and row.n == 5.0 and row.c == pytest.approx(0.6)


def test_bruteforce_order(vecs):
    got = [(r.vec_id, r.cos_sim) for r in brute_force_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=5).collect()]
    ids = [g[0] for g in got]
    assert ids == [0, 1, 4, 2, 3]  # exact ranking by cosine
    assert got[0][1] == 1.0 and got[-1][1] == -1.0


def test_zero_vector_cosine(spark):
    df = spark.createDataFrame([(0, [0.0, 0.0])], VEC_SCHEMA)
    out = brute_force_topk(df, [1.0, 0.0], k=1).collect()
    assert out[0].cos_sim == 0.0  # defined as 0, not NaN/null


def test_hyperplanes_deterministic():
    a = make_hyperplanes(4, 8)
    b = make_hyperplanes(4, 8)
    assert a == b
    assert all(v in (-1.0, 1.0) for row in a for v in row)


def test_batch_topk_matches_per_probe(spark):
    """brute_force_topk_batch == one brute_force_topk per probe, on the
    real embeddings table with three probe vectors."""
    from geoestate_etl_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_batch,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    probe_rows = [
        (1, [float((i * 7) % 5 - 2) for i in range(16)]),
        (2, [1.0] + [0.0] * 15),
        (3, [float(i % 3) for i in range(16)]),
    ]
    probes = spark.createDataFrame(probe_rows, ["probe_id", "probe_vec"])
    got = {
        (r.probe_id, r.vec_id, r.cos_sim)
        for r in brute_force_topk_batch(emb, probes, k=5).collect()
    }
    want = set()
    for pid, vec in probe_rows:
        for r in brute_force_topk(emb, vec, k=5).collect():
            want.add((pid, r.vec_id, r.cos_sim))
    assert got == want


def test_topk_per_group_partial_matches_window(spark):
    """Two-phase partial top-k == window formulation, on a frame with
    many partitions, duplicate scores, and groups smaller than k."""
    from geoestate_etl_spark.operators.topk import (
        top_k_per_group,
        top_k_per_group_partial,
    )

    df = (
        spark.range(100_000)
        .repartition(16)
        .select(
            (F.col("id") % 7).alias("g"),
            ((F.col("id") * 37) % 1000).alias("score"),  # many score ties
            F.col("id").alias("tie"),
            (F.col("id") * 2).alias("payload"),
        )
    )
    want = sorted(
        map(
            str,
            top_k_per_group(
                df, ["g"], [F.desc("score"), F.asc("tie")], 12
            ).collect(),
        )
    )
    got = sorted(
        map(str, top_k_per_group_partial(df, ["g"], "score", "tie", 12).collect())
    )
    assert got == want
    # tiny group: fewer rows than k come back intact
    small = spark.createDataFrame([(1, 5, 1, 0), (1, 3, 2, 0)],
                                  ["g", "score", "tie", "payload"])
    out = top_k_per_group_partial(small, ["g"], "score", "tie", 10).collect()
    assert [r.score for r in out] == [5, 3] or sorted(r.score for r in out) == [3, 5]
