"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``brute_force_topk`` — exact cosine top-k against a probe vector.
  The probe is a literal in the plan (broadcast by definition); the
  scan is embarrassingly parallel; top-k is TakeOrderedAndProject
  (per-partition heaps, no global sort). This is the 100 TB baseline:
  one pass, no shuffle beyond k rows per partition to the driver.
- ``lsh_topk`` — random-hyperplane LSH bucketing: probe only the
  matching bucket plus hamming-1 neighbors (multi-probe). Cuts the
  scanned fraction to ~(1+P)/2^P of rows at the cost of recall; the
  bucketed table can be written partitioned by bucket for true
  partition pruning at scale.

Hyperplanes are deterministic (seeded LCG, not ``random``) so plans
are reproducible across runs and cluster sizes.

Rounded cosine outputs add ``+ 0.0``: a score rounding to zero from
below yields IEEE ``-0.0``, which equals ``0.0`` numerically but not
byte-wise — string/byte-level result hashers (the driver's) would flag
a false mismatch (caught in the r3 sf0.1 drill).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.functions.vectors import cosine, hyperplane_bits

#: column name marking an int8-quantized (IVF-SQ) index table
_QUANT_COL = "qembedding"


def make_hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in {-1,+1}^dim.

    A fixed-parameter LCG (numerical-recipes constants) keyed by
    (seed, plane, coord) — no RNG state, same planes everywhere.
    """
    planes = []
    for j in range(num_planes):
        row = []
        x = (seed * 6364136223846793005 + j * 1442695040888963407) % (1 << 64)
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1.0 if (x >> 63) else -1.0)
        planes.append(row)
    return planes


def brute_force_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
) -> DataFrame:
    """Exact cosine top-k vs a literal probe vector.

    Scores are rounded to ``scale`` dp and tie-broken by id so the
    result set is stable across engines/partitionings.
    """
    probe_col = F.array(*[F.lit(float(v)) for v in probe])
    scored = embeddings.select(
        F.col(id_col),
        (F.round(cosine(F.col(vec_col), probe_col), scale) + 0.0).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def brute_force_topk_batch(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    scale: int = 4,
) -> DataFrame:
    """Exact cosine top-k for a *batch* of probe vectors in one corpus
    scan: (probe_id, vec_id, cos_sim), k rows per probe.

    The probe table is broadcast (an explicit BroadcastNestedLoopJoin
    — correct here and only here: the replicated side is the small
    probe batch, the corpus streams through once). Per-probe top-k
    then uses the two-phase partial reducer, so the shuffle carries
    ≤ k·num_partitions rows per probe, not |corpus| rows — the
    single-probe query's TakeOrderedAndProject shape, generalized.
    """
    from geoestate_etl_spark.operators.topk import top_k_per_group_partial

    scored = embeddings.crossJoin(F.broadcast(probes)).select(
        F.col(probe_id_col),
        F.col(id_col),
        (F.round(cosine(F.col(vec_col), F.col(probe_vec_col)), scale) + 0.0).alias("cos_sim"),
    )
    return top_k_per_group_partial(scored, [probe_id_col], "cos_sim", id_col, k)


def bucketize(
    embeddings: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the LSH bucket key (hyperplane sign bits) to each row.

    At scale: persist this partitioned by ``bucket`` so probes prune
    partitions instead of scanning.
    """
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bits(F.col(vec_col), planes).alias("bucket"),
    )


def _probe_buckets(bucket: str, radius: int) -> list[str]:
    """All bucket keys within hamming distance ``radius`` of ``bucket``."""
    from itertools import combinations

    out = []
    n = len(bucket)
    for r in range(radius + 1):
        for idxs in combinations(range(n), r):
            b = list(bucket)
            for i in idxs:
                b[i] = "0" if b[i] == "1" else "1"
            out.append("".join(b))
    return out


def lsh_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate cosine top-k: scan only the probe's LSH bucket and
    its hamming≤radius neighbors (multi-probe), then exact rescore.

    With P planes and radius r the scanned fraction is
    ~C(P,≤r)/2^P of rows (P=8, r=2 → 37/256 ≈ 14%); raise the radius
    for recall, lower it for speed. Scores/ordering are exact on the
    scanned candidates.
    """
    dim = len(probe)
    planes = make_hyperplanes(num_planes, dim)
    bucketed = bucketize(embeddings, planes, id_col, vec_col)

    # compute the probe's bucket driver-side with the same formula
    probe_bits = "".join(
        "1" if sum(p[i] * probe[i] for i in range(dim)) >= 0 else "0" for p in planes
    )
    candidates = bucketed.filter(
        F.col("bucket").isin(_probe_buckets(probe_bits, probe_radius))
    )

    probe_col = F.array(*[F.lit(float(v)) for v in probe])
    scored = candidates.select(
        F.col(id_col),
        (F.round(cosine(F.col(vec_col), probe_col), scale) + 0.0).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def ivf_build(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic Lloyd k-means, then assign
    each vector to its nearest centroid cell.

    Determinism: centroids initialize from the ``n_cells`` smallest
    ids (no RNG); each Lloyd round is one broadcast-scored argmin pass
    + one groupBy mean. Returns (assigned DataFrame with ``cell``,
    centroids). At scale the assigned table is written partitioned by
    ``cell`` — probes then read only ``n_probe`` partitions.
    """
    centroids = [
        [float(x) for x in r[1]]
        for r in embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    ]

    assign = assign_cells
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = assign(embeddings, centroids, vec_col)
        # per-dimension means via posexplode: this plan is IDENTICAL
        # every iteration (only the udf closure changes), so Spark's
        # codegen cache reuses the compiled stage instead of
        # recompiling a 64-column aggregate per Lloyd round
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in centroids]
        for r in means:
            new_cents[r["cell"]][r["pos"]] = float(r["m"])
        centroids = [list(map(float, c)) for c in new_cents]

    return assign(embeddings, centroids, vec_col), centroids


def assign_cells(
    df: DataFrame, cents: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment (adds ``cell``) as an Arrow-batched
    pandas_udf: a Column-expression argmin over k centroids compiles a
    huge codegen tree PER centroid set (the literals change every Lloyd
    iteration), and that compile time dwarfs the math. numpy does the
    (n×dim)@(dim×k) scoring in one BLAS call per batch; the centroid
    matrix rides along in the closure (tiny, broadcast by pickling) —
    the sanctioned Python escape hatch."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype=np.float64)
    c_norms = (C**2).sum(axis=1)

    @pandas_udf(T.IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        # argmin_c |x-c|^2 == argmin_c (|c|^2 - 2 x.c); |x|^2 constant
        scores = c_norms[None, :] - 2.0 * (X @ C.T)
        return pd.Series(scores.argmin(axis=1).astype("int32"))

    return df.withColumn("cell", cell_of(F.col(vec_col)))


def nearest_cells(
    centroids: list[list[float]], probe: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells whose centroids are nearest ``probe`` —
    THE cell-selection rule for every probe path (``ivf_probe``,
    ``hybrid_topk``) and for the oracle builder that inlines the same
    cells as SQL literals. One implementation so the Spark plan and
    the DuckDB rebuild can never disagree on the candidate cells:
    left-to-right squared-distance fold, stable sort (ties keep
    ascending cell order)."""

    def sqdist(c: list[float]) -> float:
        return sum((a - b) ** 2 for a, b in zip(c, probe))

    return sorted(range(len(centroids)), key=lambda ci: sqdist(centroids[ci]))[
        :n_probe
    ]


def ivf_probe(
    assigned: DataFrame,
    centroids: list[list[float]],
    probe: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
) -> DataFrame:
    """Probe an ALREADY-BUILT IVF index: score only the ``n_probe``
    cells whose centroids are nearest the probe, exact cosine rescore
    inside them. Scanned fraction ≈ n_probe/n_cells.

    When ``assigned`` is read from a ``cell``-partitioned parquet
    table (see :func:`ivf_write_index`), the ``isin`` filter becomes
    true partition pruning — the scan touches only n_probe directories.
    """
    probe_cells = nearest_cells(centroids, probe, n_probe)
    candidates = assigned.filter(F.col("cell").isin(probe_cells))
    probe_col = F.array(*[F.lit(float(v)) for v in probe])
    if _QUANT_COL in candidates.columns:
        # IVF-SQ index: score the int8 codes directly — the per-vector
        # scale cancels out of cosine, no dequantize pass needed
        vec = F.transform(
            F.col(_QUANT_COL).getField("q"), lambda v: v.cast("double")
        )
    else:
        vec = F.col(vec_col)
    scored = candidates.select(
        F.col(id_col),
        (F.round(cosine(vec, probe_col), scale) + 0.0).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def ivf_probe_batch(
    assigned: DataFrame,
    centroids: list[list[float]],
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    scale: int = 4,
) -> DataFrame:
    """Probe the IVF index for a BATCH of query vectors in one job:
    (probe_id, vec_id, cos_sim), k rows per probe — the serving shape
    when queries arrive in micro-batches rather than one at a time.

    Fully distributed — no per-probe driver round-trips:
    1. each probe picks its ``n_probe`` nearest cells via a numpy
       pandas_udf (the centroid matrix rides in the closure — same
       trick as ``ivf_build``'s assignment pass);
    2. probes explode to (cell, probe) rows and BROADCAST-join the
       cell-pruned index — each index row is scored only against the
       probes that selected its cell (≈ n_probe/n_cells of the work
       a full cross-join would do);
    3. per-probe top-k uses the two-phase partial reducer (shuffles
       ≤ k·partitions rows per probe, never the candidate set).
    """
    from geoestate_etl_spark.operators.topk import top_k_per_group_partial

    C = np.asarray(centroids, dtype=np.float64)
    c_norms = (C**2).sum(axis=1)
    n_probe = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_of(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        scores = c_norms[None, :] - 2.0 * (X @ C.T)
        top = np.argsort(scores, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(top))

    probe_cells = probes.select(
        probe_id_col,
        probe_vec_col,
        F.explode(cells_of(F.col(probe_vec_col))).alias("cell"),
    )
    # prune the index to cells some probe wants, then equi-join on cell
    wanted = [
        r.cell for r in probe_cells.select("cell").distinct().collect()
    ]
    candidates = assigned.filter(F.col("cell").isin(wanted))
    if _QUANT_COL in candidates.columns:
        vec = F.transform(
            F.col(_QUANT_COL).getField("q"), lambda v: v.cast("double")
        )
    else:
        vec = F.col(vec_col)
    scored = candidates.join(F.broadcast(probe_cells), "cell").select(
        F.col(probe_id_col),
        F.col(id_col),
        (F.round(cosine(vec, F.col(probe_vec_col)), scale) + 0.0).alias("cos_sim"),
    )
    return top_k_per_group_partial(scored, [probe_id_col], "cos_sim", id_col, k)


def knn_join(
    assigned: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
) -> DataFrame:
    """k nearest neighbors for EVERY indexed vector — the kNN-graph
    build behind graph-based semantic dedup, label propagation, and
    recommendation candidate generation: ``(vec_id, neighbor_id,
    cos_sim)``, ≤ k rows per vector, self excluded.

    :func:`ivf_probe_batch` serves micro-batches by BROADCASTING the
    probe set; here the probe set is the whole corpus, so this is the
    shuffle sibling: every vector explodes to its ``n_probe`` nearest
    cells (one numpy argsort pass — the `ivf_build` assignment trick)
    and equi-joins the cell-partitioned index on ``cell``. Pair volume
    is ≈ N² · n_probe/n_cells with n_cells ∝ N keeping per-cell
    occupancy constant — the standard IVF kNN-graph recipe, linear-ish
    per vector, never a cross join.

    Approximation contract matches IVF probing: a true neighbor in a
    non-probed cell is missed; n_probe = n_cells is exact (pinned in
    tests vs brute force). Float index only — build the graph from the
    float vectors, quantize for serving afterwards.

    Cost discipline: double-cast and norm are hoisted to per-ROW
    before the join (the `semantic_pairs` lesson — one interpreted
    fold per PAIR, not three), and per-query top-k uses the two-phase
    partial reducer (shuffles ≤ k·partitions rows per query id).
    """
    from geoestate_etl_spark.functions.vectors import to_double_array
    from geoestate_etl_spark.operators.topk import top_k_per_group_partial

    C = np.asarray(centroids, dtype=np.float64)
    c_norms = (C**2).sum(axis=1)
    n_probe = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_of(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        scores = c_norms[None, :] - 2.0 * (X @ C.T)
        top = np.argsort(scores, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(top))

    base = assigned.select(id_col, vec_col, "cell").withColumn(
        "_v", to_double_array(vec_col)
    )
    base = base.withColumn(
        "_n",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("_v"), F.col("_v"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )
    queries = base.select(
        F.col(id_col).alias("_qid"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
        F.explode(cells_of(F.col(vec_col))).alias("cell"),
    )
    cands = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_v").alias("_cv"),
        F.col("_n").alias("_cn"),
        "cell",
    )
    denom = F.col("_qn") * F.col("_cn")
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)
    scored = (
        queries.join(cands, "cell")
        .filter(F.col("_qid") != F.col("neighbor_id"))
        .select(
            F.col("_qid").alias(id_col),
            "neighbor_id",
            (F.round(cos, scale) + 0.0).alias("cos_sim"),
        )
        # a neighbor sharing several probed cells with the query would
        # appear once per shared cell; keep one
        .dropDuplicates([id_col, "neighbor_id"])
    )
    return top_k_per_group_partial(scored, [id_col], "cos_sim", "neighbor_id", k)


def hybrid_topk(
    embeddings: DataFrame,
    probe: list[float],
    assigned: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    num_planes: int = 8,
    probe_radius: int = 2,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
) -> DataFrame:
    """ANN top-k over the UNION of the LSH and IVF candidate sets,
    exact-cosine re-ranked.

    The two index families miss differently — hyperplane LSH loses
    neighbors that straddle a cutting plane, IVF loses neighbors just
    across a Voronoi boundary of a non-probed cell — so their candidate
    union recovers much of what either drops alone, at roughly the sum
    of their (small) scan fractions. Because the re-rank is exact over
    the union, recall is ≥ each constituent path by construction.

    Requires a PRE-BUILT IVF index (``assigned`` + ``centroids`` from
    :func:`ivf_build` / :func:`ivf_read_index`) — the serving-path
    discipline; the LSH side needs no build (bucket bits are computed
    in-scan, or pre-bucketed at scale). The candidate id-dedup shuffle
    touches only candidates (~scan-fraction of N), never the corpus.
    """
    dim = len(probe)
    planes = make_hyperplanes(num_planes, dim)
    probe_bits = "".join(
        "1" if sum(p[i] * probe[i] for i in range(dim)) >= 0 else "0" for p in planes
    )
    lsh_cand = (
        bucketize(embeddings, planes, id_col, vec_col)
        .filter(F.col("bucket").isin(_probe_buckets(probe_bits, probe_radius)))
        .select(id_col, vec_col)
    )

    probe_cells = nearest_cells(centroids, probe, n_probe)
    ivf_cand = assigned.filter(F.col("cell").isin(probe_cells)).select(
        id_col, vec_col
    )

    cands = lsh_cand.union(ivf_cand).dropDuplicates([id_col])
    probe_col = F.array(*[F.lit(float(v)) for v in probe])
    scored = cands.select(
        F.col(id_col),
        (F.round(cosine(F.col(vec_col), probe_col), scale) + 0.0).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def ivf_write_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> list[list[float]]:
    """BUILD step: train the quantizer, materialize the cell-assigned
    table partitioned by ``cell`` (probe-time partition pruning), and
    persist the centroids next to it. Returns the centroids.

    ``quantize=True`` stores int8 codes instead of float vectors
    (IVF-SQ, the FAISS serving layout): ~3-4× smaller index, so the
    probed cells are that much more likely to sit in page cache at
    100 TB. Probing scores cosine directly on the codes — cosine is
    invariant to the per-vector scale, so ranking differs from the
    float index only by rounding (recall parity pinned in tests).

    Layout: ``<path>/assigned/cell=<i>/...parquet`` +
    ``<path>/centroids.json``. Rebuild is a full overwrite — the index
    is a derived artifact, never the source of truth.
    """
    import json
    import os

    assigned, centroids = ivf_build(
        embeddings, n_cells, iters, id_col=id_col, vec_col=vec_col
    )
    if quantize:
        from geoestate_etl_spark.functions.vectors import quantize_int8

        assigned = assigned.select(
            id_col, "cell", quantize_int8(vec_col).alias(_QUANT_COL)
        )
    assigned.write.partitionBy("cell").mode("overwrite").parquet(
        os.path.join(path, "assigned")
    )
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(centroids, f)
    return centroids


def ivf_read_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load a materialized IVF index written by :func:`ivf_write_index`."""
    import json
    import os

    assigned = spark.read.parquet(os.path.join(path, "assigned"))
    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    return assigned, centroids


def ivf_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """APPEND step: fold a new vector batch into a materialized IVF
    index — O(batch), no retrain.

    The standard serving-index lifecycle (FAISS `add` after `train`):
    centroids stay FIXED, the batch is assigned to its nearest existing
    cells with the same kernel the build used (:func:`assign_cells`),
    and the rows land as new files inside the existing ``cell=<i>``
    partitions. Probes see the union immediately — ``ivf_probe`` reads
    the partition directories, and full-probe (n_probe = n_cells) stays
    exactly equal to brute force over old ∪ new vectors regardless of
    how well the frozen centroids fit the new data (pinned in tests).

    Ids already present in the index are skipped (one anti-join on the
    index's id column — a single-column scan), which also makes a
    retried append a no-op. What appends canNOT do is keep cells
    balanced as the data distribution drifts: the returned occupancy
    census is the retrain signal — when max/avg cell occupancy grows
    past ~2-4×, rebuild with :func:`ivf_write_index` (a full overwrite,
    billed once, exactly like the initial build).
    """
    import os

    assigned, centroids = ivf_read_index(spark, path)
    # dedupe the batch against the index AND against itself — a
    # fanned-out upstream join or concatenated retry files would
    # otherwise append the same id twice and break probe top-k
    # uniqueness (review finding). Signatures are content-keyed by id,
    # so which duplicate row wins is immaterial.
    batch = (
        new_embeddings.select(id_col, vec_col)
        .dropDuplicates([id_col])
        .join(assigned.select(id_col), id_col, "left_anti")
    )
    batch = assign_cells(batch, centroids, vec_col)
    if _QUANT_COL in assigned.columns:
        from geoestate_etl_spark.functions.vectors import quantize_int8

        batch = batch.select(
            id_col, "cell", quantize_int8(vec_col).alias(_QUANT_COL)
        )
    else:
        batch = batch.select(id_col, "cell", vec_col)
    # count via the write's own lineage would re-run the anti-join scan;
    # one persisted pass feeds the write + the audit counts
    batch = batch.persist()
    n_appended = batch.count()
    if n_appended:
        batch.write.partitionBy("cell").mode("append").parquet(
            os.path.join(path, "assigned")
        )
    occupancy = (
        spark.read.parquet(os.path.join(path, "assigned"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").alias("rows"),
            F.max("n").alias("max_cell"),
            F.avg("n").alias("avg_cell"),
        )
        .first()
    )
    batch.unpersist()
    return {
        "n_appended": n_appended,
        "n_cells": len(centroids),
        "rows_total": occupancy["rows"],
        "max_cell": occupancy["max_cell"],
        "avg_cell": float(occupancy["avg_cell"]),
    }


def planes_for_size(n_rows: int, target_occupancy: int = 16) -> int:
    """Hyperplane count scaled to input size: enough buckets that the
    EXPECTED bucket occupancy is ~``target_occupancy``, so the
    intra-bucket self-join stays linear-ish as data grows (a fixed
    plane count makes it quadratic — round-1 verdict finding).
    Clamped to [8, 28]: ≥8 keeps recall meaningful on tiny inputs,
    ≤28 bounds the bucket-key space.
    """
    import math

    if n_rows <= target_occupancy:
        return 8
    return max(8, min(28, math.ceil(math.log2(n_rows / target_occupancy))))


def embedding_near_dups(
    embeddings: DataFrame,
    num_planes: int | None = None,
    dim: int | None = None,
    cosine_threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-duplicate vector pairs: LSH-bucket equi-self-join (no
    crossJoin) + exact cosine rescore ≥ threshold.

    ``num_planes`` defaults to :func:`planes_for_size` of the input
    row count — bucket count tracks N so occupancy (and thus the
    self-join cost per bucket) stays roughly constant as data scales.
    ``max_bucket_size`` additionally hard-caps any single bucket
    (dense clusters, e.g. zero vectors or templated embeddings):
    over-cap buckets are skipped like the text-LSH paths
    (``operators.dedup.cap_hot_buckets``).

    ``dim`` defaults to the actual vector dimension (probed from one
    row): a mismatched dim makes every hyperplane dot NULL, which
    collapses all rows into one bucket and turns the self-join into
    the quadratic scan this operator exists to avoid.
    """
    if dim is None:
        first = embeddings.select(vec_col).first()
        if first is None:
            return embeddings.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos_sim double"
            )
        dim = len(first[0])
    if num_planes is None:
        num_planes = planes_for_size(embeddings.count())
    planes = make_hyperplanes(num_planes, dim)
    b = bucketize(embeddings, planes, id_col, vec_col)
    if max_bucket_size is not None:
        from geoestate_etl_spark.operators.dedup import cap_hot_buckets

        b = cap_hot_buckets(b, ["bucket"], max_bucket_size)
    left, right = b.alias("l"), b.alias("r")
    cands = left.join(
        right,
        (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        F.round(cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")), 4).alias(
            "cos_sim"
        ),
    )
    return cands.filter(F.col("cos_sim") >= cosine_threshold)
