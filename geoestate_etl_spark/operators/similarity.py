"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``brute_force_topk`` — exact cosine top-k against a probe vector.
  The probe is a literal in the plan (broadcast by definition); the
  scan is embarrassingly parallel; top-k is TakeOrderedAndProject
  (per-partition heaps, no global sort). This is the 100 TB baseline:
  one pass, no shuffle beyond k rows per partition to the driver.
- IVF (``ivf_build`` / ``ivf_write_index`` / ``ivf_probe``) — a
  deterministic k-means coarse quantizer; a probe scores only the
  ``n_probe`` nearest cells, read as pruned ``cell`` partitions.

``bucketize`` tags rows with random-hyperplane LSH bucket bits for the
registry's LSH candidate paths.

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
    THE cell-selection rule for every probe path (``ivf_probe``, the
    registry's hybrid serving top-k) and for the oracle builder that
    inlines the same cells as SQL literals. One implementation so the Spark plan and
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
