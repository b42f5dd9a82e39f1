"""Drift gate for committed derived artifacts (VERDICT r2 #6).

``components_suite``'s oracle reads the committed MinHash pair table
(``data/derived/dedup_pairs_*.parquet``). The query reuses that file
instead of regenerating per run, so if the dedup code ever drifts from
the committed parquet, the driver's green row would silently certify
stale pairs — UNLESS this test fails first: it regenerates the pairs
from the current code and asserts exact set equality with the artifact.

On drift: delete the artifact, rerun (the query rewrites it), commit.
"""

from __future__ import annotations

import os

import pytest

from geoestate_etl_spark.operators import dedup as DD
from geoestate_etl_spark.plans.prepared import derived_path
from tests.conftest import SF_ORACLE


def test_committed_pairs_match_current_code(spark):
    path = derived_path(SF_ORACLE, "dedup_pairs")
    if not os.path.exists(path):
        pytest.skip("no committed artifact for this sf (first run writes it)")
    committed = {
        (r.id_a, r.id_b) for r in spark.read.parquet(path).collect()
    }
    docs = spark.read.parquet(os.path.join(SF_ORACLE, "documents.parquet"))
    fresh = {
        (r.id_a, r.id_b)
        for r in DD.minhash_near_dups(
            docs, "text", "doc_id", jaccard_threshold=0.2
        )
        .select("id_a", "id_b")
        .collect()
    }
    only_committed = committed - fresh
    only_fresh = fresh - committed
    assert not only_committed and not only_fresh, (
        f"committed dedup pairs drifted from current code: "
        f"{len(only_committed)} stale, {len(only_fresh)} missing — "
        f"delete {path}, rerun components_suite, and commit the rewrite"
    )


def test_committed_semantic_clusters_match_current_code(spark):
    """Same drift gate for the `semantic_dedup` cluster artifact: the
    oracle reads data/derived/semantic_clusters_sf0.01.parquet, so the
    committed assignments must equal what the current deterministic
    k-means produces."""
    import os as _os

    from geoestate_etl_spark.operators.semantic_dedup import cluster_embeddings

    path = derived_path(SF_ORACLE, "semantic_clusters")
    if not _os.path.exists(path):
        pytest.skip("no committed artifact for this sf (first run writes it)")
    committed = {
        (r.vec_id, r.cell) for r in spark.read.parquet(path).collect()
    }
    emb = spark.read.parquet(_os.path.join(SF_ORACLE, "embeddings.parquet"))
    fresh = {
        (r.vec_id, r.cell) for r in cluster_embeddings(emb).collect()
    }
    assert committed == fresh, (
        f"committed semantic clusters drifted from current code "
        f"({len(committed - fresh)} stale, {len(fresh - committed)} missing) — "
        f"delete {path}, rerun semantic_dedup, and commit the rewrite"
    )


def test_committed_neardup_sigs_match_current_code(spark):
    """Drift gate for the near-dup signature artifact: the
    `near_dup_pairs` oracle certifies everything downstream of
    data/derived/neardup_sigs_sf0.01.parquet, so the committed
    (sh, sig, simhash) rows must equal what the current Python hash
    kernels produce from the documents table."""
    import os as _os

    path = derived_path(SF_ORACLE, "neardup_sigs")
    if not _os.path.exists(path):
        pytest.skip("no committed artifact for this sf (first run writes it)")
    committed = {
        (r.id, tuple(r.sh), tuple(r.sig), r.simhash)
        for r in spark.read.parquet(path).collect()
    }
    docs = spark.read.parquet(_os.path.join(SF_ORACLE, "documents.parquet"))
    from pyspark.sql import functions as F

    sigs = DD.minhash_signatures(docs, "text", "doc_id")
    sh = docs.select(
        F.col("doc_id").alias("id"), DD.simhash_batch("text").alias("simhash")
    )
    fresh = {
        (r.id, tuple(r.sh), tuple(r.sig), r.simhash)
        for r in sigs.join(sh, "id").collect()
    }
    assert committed == fresh, (
        f"committed near-dup signatures drifted from current kernels "
        f"({len(committed - fresh)} stale, {len(fresh - committed)} missing) — "
        f"delete {path}, rerun near_dup_pairs, and commit the rewrite"
    )


def test_committed_houses_raw_matches_regeneration_and_spark(spark):
    """Drift gate for the houses raw-parse artifact (oracle input of
    `houses_slice_top25`), two-sided:

    1. regeneration — the committed parquet equals a fresh stdlib-csv
       parse of the reference CSV (catches artifact tampering/staleness);
    2. cross-parser parity — the Spark dirty-CSV reader produces the
       same row multiset (catches a Spark-vs-Python CSV disagreement,
       which would make the SQL oracle certify the wrong parse).
    """
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from gen_houses_raw import COLUMNS, OUT, SLICE, parse_rows

    if not os.path.exists(SLICE):
        pytest.skip("reference slice not present")
    assert os.path.exists(OUT), "committed houses_slice_raw.parquet missing"

    fresh = parse_rows()
    committed_df = spark.read.parquet(OUT).orderBy("_row_idx")
    committed = [
        [getattr(r, c) for c in COLUMNS] for r in committed_df.collect()
    ]
    assert committed == fresh, "artifact differs from a fresh stdlib parse"

    from geoestate_etl_spark.schema import HOUSES_RAW_SCHEMA
    from geoestate_etl_spark.sources.csv_source import read_dirty_csv

    spark_rows = sorted(
        map(
            str,
            (
                tuple(r)
                for r in read_dirty_csv(
                    spark, SLICE, schema=HOUSES_RAW_SCHEMA
                ).collect()
            ),
        )
    )
    py_rows = sorted(map(str, (tuple(r) for r in fresh)))
    assert spark_rows == py_rows, "Spark CSV parse != stdlib csv parse"


def test_committed_ivf_artifact_matches_current_code(spark):
    """Drift gate for the IVF oracle checkpoint (`similarity_ann`):
    the committed (vec_id, cell) assignment must equal what the
    current deterministic ivf_build produces, the committed centroids
    must match the fresh training run (tiny float tolerance — summation
    order), and the probe-cell selection the oracle inlined must be
    identical under both centroid sets."""
    import os as _os

    from geoestate_etl_spark.operators.similarity import ivf_build, nearest_cells
    from geoestate_etl_spark.plans.queries_ext import _probe

    apath = derived_path(SF_ORACLE, "ivf_assign")
    cpath = derived_path(SF_ORACLE, "ivf_centroids")
    if not (_os.path.exists(apath) and _os.path.exists(cpath)):
        pytest.skip("no committed artifact for this sf (first run writes it)")
    committed = {
        (r.vec_id, r.cell) for r in spark.read.parquet(apath).collect()
    }
    cent_rows = spark.read.parquet(cpath).collect()
    committed_cents = [
        [float(x) for x in r.centroid]
        for r in sorted(cent_rows, key=lambda r: r.cell)
    ]
    emb = spark.read.parquet(_os.path.join(SF_ORACLE, "embeddings.parquet"))
    assigned, fresh_cents = ivf_build(emb, n_cells=16)
    fresh = {(r.vec_id, r.cell) for r in assigned.select("vec_id", "cell").collect()}
    assert committed == fresh, (
        f"committed IVF assignments drifted from current ivf_build "
        f"({len(committed - fresh)} stale, {len(fresh - committed)} missing) — "
        f"delete {apath} and {cpath}, rerun similarity_ann, and commit"
    )
    assert len(committed_cents) == len(fresh_cents)
    for c_old, c_new in zip(committed_cents, fresh_cents):
        assert max(abs(a - b) for a, b in zip(c_old, c_new)) < 1e-9
    probe = _probe(spark, SF_ORACLE)
    assert nearest_cells(committed_cents, probe, 4) == nearest_cells(
        fresh_cents, probe, 4
    ), "probe-cell selection drifted between committed and fresh centroids"


def test_committed_pq_codes_match_current_code(spark):
    """Drift gate for the PQ ADC oracle checkpoint (`ann_certify`
    pq_adc variant): the committed (vec_id, pq_code) table must equal
    what the current deterministic pq_train + pq_encode produce, and
    the numpy twin (the oracle LUT builder's path) must agree with the
    Spark encode row-for-row."""
    import numpy as np
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from geoestate_etl_spark.operators.pq import encode_np, pq_encode, pq_train
    from geoestate_etl_spark.plans.queries_ext import (
        PQ_K,
        PQ_M,
        PQ_SEED,
    )

    path = derived_path(SF_ORACLE, "pq_codes")
    if not _os.path.exists(path):
        pytest.skip("no committed artifact for this sf (first run writes it)")
    committed = {
        r["vec_id"]: list(r["pq_code"])
        for r in spark.read.parquet(path).collect()
    }
    emb = (
        spark.read.parquet(_os.path.join(SF_ORACLE, "embeddings.parquet"))
        .select(
            "vec_id",
            F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("embedding"),
        )
    )
    books = pq_train(emb, m=PQ_M, k=PQ_K, seed=PQ_SEED)
    fresh = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(emb, books).select("vec_id", "pq_code").collect()
    }
    assert committed == fresh, (
        "committed PQ codes drifted from current pq_train/pq_encode — "
        f"delete {path}, rerun ann_certify, and commit"
    )
    # numpy twin parity (the exact path the oracle LUT builder uses)
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    twin = encode_np(x, books)
    for r, codes in zip(rows, twin):
        assert committed[r["vec_id"]] == [int(c) for c in codes]


def test_committed_media_phash_matches_current_code(spark, tmp_path):
    """Drift gate for the perceptual-hash artifact (r9): the
    `near_dup_pairs` phash variant certifies everything downstream of
    data/derived/media_phash_sf0.01.parquet, so the committed (id,
    phash) rows must equal what the current synth→PNG-encode→decode→
    dHash path produces."""
    import shutil

    from geoestate_etl_spark.plans import queries_ext as QE

    path = derived_path(SF_ORACLE, "media_phash")
    if not os.path.exists(path):
        pytest.skip("no committed artifact for this sf (first run writes it)")
    committed = {
        (r.id, r.phash) for r in spark.read.parquet(path).collect()
    }
    # regenerate through the real builder into a scratch sf mirror:
    # the builder keys purely off documents.parquet + the path
    scratch = str(tmp_path / "sf_mirror")
    os.makedirs(scratch)
    shutil.copy(
        os.path.join(SF_ORACLE, "documents.parquet"),
        os.path.join(scratch, "documents.parquet"),
    )
    fresh_path = derived_path(scratch, "media_phash")
    try:
        fresh = {
            (r.id, r.phash)
            for r in QE.ensure_media_phash(spark, scratch).collect()
        }
    finally:
        if os.path.exists(fresh_path):
            shutil.rmtree(fresh_path)
    assert committed == fresh, (
        f"committed media phash drifted from current code "
        f"({len(committed - fresh)} stale, {len(fresh - committed)} missing) — "
        f"delete {path}, rerun near_dup_pairs, and commit the rewrite"
    )
