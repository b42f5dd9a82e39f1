"""Training-shard writer: deterministic assignment, bounded shard
sizes, manifest integrity, and tamper detection."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from geoestate_etl_spark.sources.shards import (
    assign_shards,
    verify_shards,
    write_shards,
)
from tests.conftest import SF_ORACLE


def test_assign_shards_contiguous_and_bounded(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    got = assign_shards(df, rows_per_shard=300, order_col="doc_id").collect()
    by_shard = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r.doc_id)
    # 1000 rows / 300 -> shards 0..3, sizes 300/300/300/100
    assert {k: len(v) for k, v in by_shard.items()} == {0: 300, 1: 300, 2: 300, 3: 100}
    # contiguous id ranges per shard
    for k, ids in by_shard.items():
        assert sorted(ids) == list(range(k * 300, min(k * 300 + 300, 1000)))


def test_write_verify_roundtrip(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    path = str(tmp_path / "shards")
    manifest = write_shards(docs, path, rows_per_shard=150)
    assert manifest["total_rows"] == docs.count()
    assert manifest["n_shards"] == -(-docs.count() // 150)
    assert [s["rows"] for s in manifest["shards"][:-1]] == [150] * (
        manifest["n_shards"] - 1
    )
    # manifest on disk == returned
    with open(os.path.join(path, "manifest.json")) as f:
        assert json.load(f) == manifest
    # physical layout exists for every shard
    dirs = glob.glob(os.path.join(path, "data", "shard=*"))
    assert {int(d.rsplit("=", 1)[1]) for d in dirs} == {
        s["shard"] for s in manifest["shards"]
    }
    # verification: every shard intact
    rep = verify_shards(spark, path).collect()
    assert all(r.rows_match and r.checksum_match for r in rep)


def test_verify_detects_tamper(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(200)
    path = str(tmp_path / "shards")
    write_shards(docs, path, rows_per_shard=100)
    # drop one data file from shard 1
    victim = sorted(glob.glob(os.path.join(path, "data", "shard=1", "*.parquet")))[0]
    os.remove(victim)
    rep = {r.shard: (r.rows_match, r.checksum_match) for r in
           verify_shards(spark, path).collect()}
    assert rep[0] == (True, True)
    assert rep[1] != (True, True)


def test_rewrite_is_deterministic(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    m1 = write_shards(docs, str(tmp_path / "a"), rows_per_shard=128)
    m2 = write_shards(docs, str(tmp_path / "b"), rows_per_shard=128)
    assert m1["shards"] == m2["shards"]


def test_verify_reports_false_for_missing_shard(spark, tmp_path):
    """A shard in the manifest but missing on disk (or vice versa)
    must report False, never NULL (ADVICE r2)."""
    import json
    import os
    import shutil

    from geoestate_etl_spark.sources.shards import verify_shards, write_shards

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "shards_missing")
    write_shards(df, path, rows_per_shard=25, order_col="doc_id")
    shutil.rmtree(os.path.join(path, "data", "shard=2"))
    res = {r.shard: r for r in verify_shards(spark, path).collect()}
    assert res[2].rows_match is False and res[2].checksum_match is False
    # the other shards still verify clean
    assert all(res[k].rows_match and res[k].checksum_match for k in (0, 1, 3))

    # shard on disk but absent from the manifest: also False, not NULL
    with open(os.path.join(path, "manifest.json")) as f:
        m = json.load(f)
    m["shards"] = [s for s in m["shards"] if s["shard"] != 3]
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(m, f)
    res2 = {r.shard: r for r in verify_shards(spark, path).collect()}
    assert res2[3].rows_match is False and res2[3].checksum_match is False


def test_epoch_shuffle_reproducible_and_decorrelated(spark, tmp_path):
    """Epoch-seeded order: same epoch → identical permutation across
    reruns/partitionings; different epochs → different permutations;
    composing with write_shards gives a reproducible shard layout."""
    from geoestate_etl_spark.sources.shards import epoch_shuffle_col, write_shards

    df = spark.range(500).selectExpr("id AS doc_id", "id * 2 AS payload")

    def order(epoch, parts):
        return [
            r.doc_id
            for r in df.repartition(parts)
            .withColumn("_ord", epoch_shuffle_col("doc_id", epoch))
            .orderBy("_ord", "doc_id")
            .collect()
        ]

    assert order(1, 4) == order(1, 9)          # reproducible
    assert order(1, 4) != order(2, 4)          # epochs decorrelate
    assert sorted(order(2, 4)) == list(range(500))  # a permutation

    d1 = str(tmp_path / "e1")
    d1b = str(tmp_path / "e1b")
    with_ord = df.withColumn("_ord", epoch_shuffle_col("doc_id", 1))
    m1 = write_shards(with_ord, d1, rows_per_shard=100, order_col="_ord")
    m2 = write_shards(with_ord, d1b, rows_per_shard=100, order_col="_ord")
    assert [s["checksum"] for s in m1["shards"]] == [
        s["checksum"] for s in m2["shards"]
    ]
