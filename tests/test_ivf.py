"""IVF ANN: determinism, recall vs brute force, and scan reduction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_build,
    ivf_probe,
)
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


@pytest.fixture(scope="module")
def probe(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]


def test_ivf_deterministic(emb, probe):
    a = [(r.vec_id, r.cos_sim) for r in ivf_probe(*ivf_build(emb), probe, k=10).collect()]
    b = [(r.vec_id, r.cos_sim) for r in ivf_probe(*ivf_build(emb), probe, k=10).collect()]
    assert a == b


def test_ivf_partitions_all_vectors(emb):
    assigned, cents = ivf_build(emb, n_cells=16)
    assert assigned.count() == emb.count()
    assert assigned.select("cell").distinct().count() <= 16
    assert len(cents) == 16


def test_ivf_recall_and_scan_fraction(emb, probe):
    exact = [r.vec_id for r in brute_force_topk(emb, probe, k=10).collect()]
    approx = [r.vec_id for r in ivf_probe(*ivf_build(emb, n_cells=16), probe, k=10, n_probe=4).collect()]
    assert approx[0] == exact[0] == 0  # probe's own vector found
    # measured deterministic floor on this near-random data; full-probe
    # (n_probe=n_cells) must equal brute force exactly
    assert len(set(exact) & set(approx)) >= 3
    full = [r.vec_id for r in ivf_probe(*ivf_build(emb, n_cells=16), probe, k=10, n_probe=16).collect()]
    assert full == exact


def test_ivf_materialized_index_probe_matches_inline(emb, probe, tmp_path):
    """Build/probe split (VERDICT r1 #2): a probe against the
    materialized cell-partitioned index returns exactly what the
    inline build+probe returns, and its scan is partition-pruned."""
    from geoestate_etl_spark.operators.similarity import (
        ivf_read_index,
        ivf_write_index,
    )

    path = str(tmp_path / "ivf")
    ivf_write_index(emb, path, n_cells=16)
    assigned, cents = ivf_read_index(emb.sparkSession, path)

    inline = [
        (r.vec_id, r.cos_sim)
        for r in ivf_probe(*ivf_build(emb), probe, k=10, n_probe=4).collect()
    ]
    stored = [
        (r.vec_id, r.cos_sim)
        for r in ivf_probe(assigned, cents, probe, k=10, n_probe=4).collect()
    ]
    assert stored == inline

    # partition pruning: the parquet scan reads only the n_probe cell dirs
    plan = (
        ivf_probe(assigned, cents, probe, k=10, n_probe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan


def test_ivf_query_uses_cached_index(spark):
    """Second invocation of the registered query must NOT rebuild the
    index (no kmeans jobs) — it reads the cached materialization."""
    import time

    from geoestate_etl_spark.plans.queries_ext import q_similarity_ivf

    q_similarity_ivf(spark, SF_ORACLE).collect()  # may build
    t0 = time.perf_counter()
    q_similarity_ivf(spark, SF_ORACLE).collect()  # must be probe-only
    assert time.perf_counter() - t0 < 5.0


def test_ivf_sq8_index_recall_and_size(emb, probe, tmp_path):
    """Quantized (IVF-SQ) index: probing the int8 codes must match the
    float index's top-k except for rounding-boundary swaps, and the
    index directory must be materially smaller."""
    import glob
    import os

    from geoestate_etl_spark.operators.similarity import (
        ivf_read_index,
        ivf_write_index,
    )

    spark = emb.sparkSession
    p_f = str(tmp_path / "float_idx")
    p_q = str(tmp_path / "sq8_idx")
    ivf_write_index(emb, p_f, n_cells=16)
    ivf_write_index(emb, p_q, n_cells=16, quantize=True)

    af, cf = ivf_read_index(spark, p_f)
    aq, cq = ivf_read_index(spark, p_q)
    assert cf == cq  # same quantizer training (quantization is storage-only)

    top_f = [r.vec_id for r in ivf_probe(af, cf, probe, k=10, n_probe=4).collect()]
    top_q = [r.vec_id for r in ivf_probe(aq, cq, probe, k=10, n_probe=4).collect()]
    assert top_q[0] == top_f[0] == 0
    assert len(set(top_f) & set(top_q)) >= 8

    def size(p):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(p, "assigned", "**", "*.parquet"), recursive=True)
        )

    assert size(p_q) < 0.5 * size(p_f)


def test_ivf_probe_batch_matches_single_probes(emb, probe):
    """Batch probing must return exactly what looping ivf_probe over
    the same probe vectors returns (same index, same n_probe)."""
    from geoestate_etl_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_probe_batch,
    )

    spark = emb.sparkSession
    assigned, cents = ivf_build(emb, n_cells=16)
    assigned = assigned.persist()
    try:
        probe_rows = emb.filter(F.col("vec_id").isin([0, 7, 19])).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
        batch = ivf_probe_batch(
            assigned, cents, probe_rows, k=5, n_probe=4
        ).collect()
        got = {}
        for r in batch:
            got.setdefault(r.probe_id, []).append((r.vec_id, r.cos_sim))
        for pid in (0, 7, 19):
            vec = [
                float(x)
                for x in emb.filter(F.col("vec_id") == pid).first().embedding
            ]
            single = [
                (r.vec_id, r.cos_sim)
                for r in ivf_probe(assigned, cents, vec, k=5, n_probe=4).collect()
            ]
            assert sorted(got[pid]) == sorted(single), f"probe {pid}"
            assert len(got[pid]) == 5
    finally:
        assigned.unpersist()


def test_ivf_append_equals_full_probe_and_is_idempotent(emb, probe, tmp_path, spark):
    """Serving-index append lifecycle: build on half the corpus, append
    the other half — full-probe over the appended index must equal
    brute force over the WHOLE corpus (frozen centroids cannot break
    exactness, only balance), and a retried append is a no-op."""
    from geoestate_etl_spark.operators.similarity import (
        ivf_append,
        ivf_probe,
        ivf_read_index,
        ivf_write_index,
    )

    path = str(tmp_path / "idx")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    ivf_write_index(old, path, n_cells=8)

    report = ivf_append(spark, path, new)
    assert report["n_appended"] == new.count()
    assert report["rows_total"] == emb.count()
    assert report["max_cell"] >= report["avg_cell"] > 0

    assigned, cents = ivf_read_index(spark, path)
    got = [
        r.vec_id
        for r in ivf_probe(assigned, cents, probe, k=10, n_probe=8).collect()
    ]
    exact = [r.vec_id for r in brute_force_topk(emb, probe, k=10).collect()]
    assert got == exact  # full probe == brute force over old ∪ new

    # retry: same batch appends nothing and the census is unchanged
    again = ivf_append(spark, path, new)
    assert again["n_appended"] == 0
    assert again["rows_total"] == emb.count()


def test_ivf_append_quantized_index_keeps_code_layout(emb, tmp_path, spark):
    from geoestate_etl_spark.operators.similarity import (
        _QUANT_COL,
        ivf_append,
        ivf_read_index,
        ivf_write_index,
    )

    path = str(tmp_path / "idx8")
    ivf_write_index(emb.filter(F.col("vec_id") < 100), path, n_cells=4, quantize=True)
    ivf_append(spark, path, emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)))
    assigned, _ = ivf_read_index(spark, path)
    assert _QUANT_COL in assigned.columns and "embedding" not in assigned.columns
    assert assigned.count() == 200


def test_knn_join_full_probe_equals_brute_force(emb, spark):
    """kNN graph with n_probe = n_cells must equal per-vector brute
    force exactly (rounding and tiebreaks aligned); partial probe is a
    subset relation per query."""
    import numpy as np

    from geoestate_etl_spark.operators.similarity import ivf_build, knn_join

    sub = emb.filter(F.col("vec_id") < 60)
    assigned, cents = ivf_build(sub, n_cells=4)
    full = knn_join(assigned, cents, k=5, n_probe=4)
    rows = full.collect()
    got = {}
    for r in rows:
        got.setdefault(r.vec_id, []).append((r.cos_sim, r.neighbor_id))

    data = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in sub.collect()}
    for qid, qv in data.items():
        sims = []
        for cid, cv in data.items():
            if cid == qid:
                continue
            denom = float(np.sqrt(qv @ qv) * np.sqrt(cv @ cv))
            c = float(qv @ cv) / denom if denom else 0.0
            sims.append((round(c, 4), cid))
        want = sorted(sims, key=lambda t: (-t[0], t[1]))[:5]
        have = sorted(got[qid], key=lambda t: (-t[0], t[1]))
        assert [i for _, i in have] == [i for _, i in want], qid
    # every vector has exactly k graph edges
    assert all(len(v) == 5 for v in got.values())

    partial = knn_join(assigned, cents, k=5, n_probe=1)
    pg = {}
    for r in partial.collect():
        pg.setdefault(r.vec_id, set()).add(r.neighbor_id)
    # partial probe returns <= k neighbors, all of them real vectors
    assert all(len(v) <= 5 and v <= set(data) for v in pg.values())
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
