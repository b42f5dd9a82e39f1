"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-disciplined for 100 TB:

- exact: hash-groupBy on a fingerprint — one shuffle, deterministic
  keeper (min id), never ``dropDuplicates`` on a subset (keeper there
  is partition-order-dependent).
- MinHash + LSH: shingle → minhash signature → band → bucket
  equi-join. The self-join is on (band_id, band_hash) buckets, so
  candidate generation is linear-ish in data size, NOT a crossJoin.
  Signatures come from either a numpy Arrow-batch kernel (default —
  ~20x less CPU, see "Arrow batch kernels" below) or a pure-built-in
  ``xxhash64`` fold; both are content-deterministic across runs and
  cluster sizes.
- SimHash: per-token hash sign-sums → 32-bit fingerprint; near-dups
  bucket by rotated bit-blocks (hamming-distance LSH).
- n-gram Jaccard: exact pair similarity, computed only on LSH
  candidates (array_intersect/array_union on shingle sets).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.functions.text import fingerprint_md5, normalize_text

# --- exact ------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup by content fingerprint: one row per distinct
    normalized text, deterministic keeper = min id, with copy count."""
    return (
        df.withColumn("fp", fingerprint_md5(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def dedup_by_key(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keyed dedup: deterministic keeper per key group (min id)."""
    return df.groupBy(*keys).agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Sub-document dedup, CCNet/RefinedWeb-style: remove every
    DUPLICATED line/paragraph occurrence corpus-wide, keeping only its
    first occurrence — boilerplate (nav bars, licence headers, cookie
    banners) repeats across pages even when whole documents don't.

    Returns the input frame with ``text_col`` rebuilt from the
    surviving spans (re-joined with ``delimiter``) plus
    ``n_spans_dropped``. Rules:

    - spans are ``text`` split on the literal ``delimiter`` ('\\n' =
      line dedup, '\\n\\n' = paragraph dedup);
    - only spans whose whitespace-stripped length is ``>= min_chars``
      participate — blank/short spans are STRUCTURE and are always
      kept, so blank lines are never collapsed across documents;
    - first occurrence = minimum ``(id, position)`` — deterministic
      keeper, identical on every rerun and partitioning;
    - docs whose every span is a later duplicate come back with empty
      text (the caller's length gate drops them — same funnel position
      the batch pipeline uses).

    Scale shape (all JVM): one posexplode pass, one hash aggregation
    on the span fingerprint (winner per span), one equi-join back on
    the fingerprint (AQE broadcasts when the winner table is small),
    one per-doc aggregation to reassemble. Linear in corpus size —
    never an all-pairs comparison. Span identity is md5 of the EXACT
    span text; normalize upstream if byte-variants must dedup together.
    """
    # exactly the incremental operator with an empty history
    out, _ = dedup_spans_incremental(
        df, None, text_col, id_col, delimiter, min_chars
    )
    return out


def dedup_spans_incremental(
    batch: DataFrame,
    seen_spans: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_chars: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Incremental :func:`dedup_spans` against a standing history:
    spans already in ``seen_spans`` (column ``span_fp``) drop from the
    whole batch; within the batch, first occurrence wins exactly like
    the corpus-wide operator. Returns ``(rebuilt_batch, new_fps)`` —
    union ``new_fps`` into the standing table for the next epoch.

    Fold invariance (pinned in ``tests/test_span_dedup.py``): feeding
    batches through this in id order reproduces ``dedup_spans`` over
    the concatenated corpus, so per-epoch ingest and a full rerun
    agree. O(batch) work: the history participates only through one
    equi-join on the span fingerprint, never a rescan."""
    spans = batch.select(
        F.col(id_col).alias("_sid"),
        F.posexplode(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")), re.escape(delimiter), -1
            )
        ).alias("_pos", "_span"),
    ).withColumn(
        # whitespace-stripped length: F.trim strips ONLY spaces, which
        # would let a tab/CR-only "blank" line count as dedupable
        # content — structure detection must cover all whitespace
        "_elig",
        F.length(F.regexp_replace("_span", r"^\s+|\s+$", ""))
        >= F.lit(int(min_chars)),
    ).withColumn("_key", F.md5("_span"))
    if seen_spans is not None:
        hist = seen_spans.select(F.col("span_fp").alias("_key")).distinct()
        spans = spans.join(
            hist.withColumn("_in_hist", F.lit(True)), "_key", "left"
        ).withColumn("_in_hist", F.coalesce("_in_hist", F.lit(False)))
    else:
        spans = spans.withColumn("_in_hist", F.lit(False))
    winners = (
        spans.filter(F.col("_elig") & ~F.col("_in_hist"))
        .groupBy("_key")
        .agg(F.min(F.struct("_sid", "_pos")).alias("_win"))
    )
    joined = spans.join(winners, "_key", "left").withColumn(
        "_keep",
        ~F.col("_elig")
        | (~F.col("_in_hist") & (F.struct("_sid", "_pos") == F.col("_win"))),
    )
    rebuilt = joined.groupBy("_sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_pos", "_span"))
                    )
                ),
                lambda x: x["_span"],
            ),
            delimiter,
        ).alias("_new_text"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_spans_dropped"),
    )
    out = (
        batch.drop(text_col)
        .join(rebuilt.withColumnRenamed("_sid", id_col), id_col)
        .withColumnRenamed("_new_text", text_col)
    )
    new_fps = winners.select(F.col("_key").alias("span_fp"))
    return out, new_fps


# --- LSH hot-bucket guard ---------------------------------------------------


def hot_buckets(banded: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Buckets whose occupancy exceeds ``cap`` — the audit side-output
    of :func:`cap_hot_buckets`. Columns: key_cols + ``n_members``."""
    return (
        banded.groupBy(*key_cols)
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > cap)
    )


def cap_hot_buckets(
    banded: DataFrame, key_cols: list[str], cap: int | None
) -> DataFrame:
    """Drop every row of buckets with more than ``cap`` members before
    a bucket self-join.

    An LSH bucket self-join is quadratic IN THE BUCKET: one band hash
    shared by boilerplate-heavy documents (cookie banners, licence
    headers — common at corpus scale) turns that bucket into a
    b²-pair blowup. Production near-dup pipelines skip such buckets
    entirely and log them; callers audit the drops with
    :func:`hot_buckets` (same inputs, same cap). A bucket that hot
    carries no similarity signal anyway — its members collide on
    boilerplate, not content.

    At most N/cap buckets can exceed the cap, so the anti-join's build
    side is bounded and broadcast.
    """
    if cap is None:
        return banded
    hot = hot_buckets(banded, key_cols, cap).select(*key_cols)
    return banded.join(F.broadcast(hot), key_cols, "left_anti")


# --- shingles + minhash -----------------------------------------------------


def shingle_ids(c: Column | str, k: int = 3) -> Column:
    """Numeric k-shingle ids: hash each word once, combine k word
    hashes arithmetically — no per-shingle string building. Same
    set-semantics as the distinct k-word shingle strings modulo
    negligible hash-collision probability; 2-3x cheaper, and
    downstream set ops (minhash, intersect/union for Jaccard) run on
    longs instead of strings.

    Masks keep every intermediate within signed-64 range (ANSI mode
    throws on overflow): word hashes 31 bits, and the accumulator is
    re-masked to 57 bits after every combine step, so ``acc*31 + term``
    stays < 2^63 for ANY k (the mask is the identity for k <= 6, so
    small-k results are unchanged).
    """
    col = F.col(c) if isinstance(c, str) else c
    words = F.split(normalize_text(col), " ")
    wh = F.transform(words, lambda w: F.xxhash64(w).bitwiseAND(F.lit(0x7FFFFFFF)))
    n = F.size(wh)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    acc_mask = F.lit(0x01FFFFFFFFFFFFFF).cast(T.LongType())  # 57 bits

    def combine(i: Column) -> Column:
        acc = F.lit(0).cast(T.LongType())
        for off in range(k):
            # try_element_at: past-the-end indices (docs shorter than k
            # words) yield NULL→0 instead of ANSI INVALID_ARRAY_INDEX
            term = F.coalesce(
                F.try_element_at(wh, (i + off + 1).cast("int")), F.lit(0)
            )
            acc = (acc * 31 + term).bitwiseAND(acc_mask)
        return acc

    return F.array_distinct(F.transform(idx, combine))


def minhash_signature(shingle_col: Column | str, num_hashes: int = 16) -> Column:
    """MinHash signature: for seed j, min over shingles of
    xxhash64(j ‖ shingle). Deterministic; array<long> of length
    ``num_hashes``."""
    col = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    max_long = F.lit(0x7FFFFFFFFFFFFFFF).cast(T.LongType())

    # ONE fold over the shingle array: the accumulator is the running
    # per-seed minimum vector, merged with zip_with(least). Each seed j
    # is an INDEPENDENT hash xxhash64(shingle, j) — an affine family
    # h1 + j*h2 with a narrow h2 is NOT a permutation family (j*h2 is
    # far smaller than h1's spread, so the same shingle wins the min
    # for every j and the signature collapses to one hash — the LSH
    # S-curve degenerates to P(candidate)=jaccard). Masked to 62 bits
    # for ANSI-safe longs.
    def merge(acc, s):
        salted = F.array(
            *[
                F.xxhash64(s, F.lit(j)).bitwiseAND(F.lit(0x3FFFFFFFFFFFFFFF))
                for j in range(num_hashes)
            ]
        )
        return F.zip_with(acc, salted, lambda a, c: F.least(a, c))

    return F.aggregate(col, F.array_repeat(max_long, num_hashes), merge)


# --- Arrow batch kernels ----------------------------------------------------
#
# The higher-order-function folds above are the pure-built-in reference
# path, but Spark evaluates HOF lambdas interpreted per array element
# (they don't inline into whole-stage codegen): measured 28ms/doc for
# shingle+signature at sf0.1 — ~140 CPU-seconds for 5k docs. The Arrow
# kernels below vectorize the same per-doc work in numpy over
# Arrow-transferred batches (ROADMAP item: "Arrow/pandas_udf batch path
# is the lever"). Hash family differs (crc32+splitmix64 vs xxhash64) but
# both are content-deterministic, so candidate semantics and the exact
# Jaccard rescore are unchanged; near-dup outputs are engine-specific
# (rows-only) by design.


def _mix64(x):
    """splitmix64 finalizer, vectorized over uint64 numpy arrays.

    Public-domain bit-mix (Steele et al., "Fast splittable pseudorandom
    number generators"); numpy uint64 arithmetic wraps, which is what
    the finalizer wants.
    """
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _token_hashes(texts):
    """Tokenize a batch and hash every token content-deterministically.

    Returns (word_h: uint64 array over all docs concatenated, offsets:
    int64 array len(texts)+1). Tokens are hashed ONCE per distinct
    token in the batch (pd.factorize), then mapped back by code —
    the Python-loop hash cost is bounded by vocabulary, not corpus,
    size. crc32 is content-based, so results are independent of batch
    composition and partitioning (determinism contract of the module).
    """
    import zlib

    tok_lists = [t.lower().split() if t else [] for t in texts]
    lens = np.fromiter(
        (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
    )
    offsets = np.zeros(len(tok_lists) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    nonempty = [np.asarray(t, dtype=object) for t in tok_lists if t]
    if not nonempty:
        return np.empty(0, dtype=np.uint64), offsets
    codes, uniques = pd.factorize(np.concatenate(nonempty))
    uniq_h = np.fromiter(
        (zlib.crc32(u.encode("utf-8")) for u in uniques),
        dtype=np.uint64,
        count=len(uniques),
    )
    return uniq_h[codes], offsets


def _minhash_kernel(texts, k, num_hashes):
    """Batch shingle-ids + minhash signature, numpy-vectorized per doc.

    Same construction as :func:`shingle_ids` / :func:`minhash_signature`
    (31-bit word hashes, ``acc*31+term`` masked to 57 bits, per-seed min
    of ``h1 + j*h2``) with crc32/splitmix64 as the hash family. All
    values stay < 2^62 + 2^35 < 2^63, so the int64 casts are lossless.
    """
    m57 = np.uint64(0x01FFFFFFFFFFFFFF)
    m62 = np.uint64(0x3FFFFFFFFFFFFFFF)
    m31 = np.uint64(0x7FFFFFFF)
    seeds = _mix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    word_h, offsets = _token_hashes(texts)
    word_h = word_h & m31
    sh_out, sig_out = [], []
    for i in range(len(offsets) - 1):
        w = word_h[offsets[i] : offsets[i + 1]]
        n = int(w.size)
        m = max(n - k, 0) + 1
        pad = np.zeros(m - 1 + k, dtype=np.uint64)
        pad[:n] = w
        acc = np.zeros(m, dtype=np.uint64)
        for off in range(k):
            acc = (acc * np.uint64(31) + pad[off : off + m]) & m57
        sh = np.unique(acc)
        # independent permutation per seed: mix64(shingle ^ seed_j).
        # (An affine h1 + j*h2 family with narrow h2 collapses — the
        # same shingle wins every seed's min; see minhash_signature.)
        hj = _mix64(sh[:, None] ^ seeds[None, :]) & m62
        sig = hj.min(axis=0).astype(np.int64)
        sh_out.append(sh.astype(np.int64))
        sig_out.append(sig)
    return sh_out, sig_out


def shingle_sig_batch(
    text_col: Column | str, k: int = 3, num_hashes: int = 16
) -> Column:
    """Arrow-batched struct<sh:array<long>, sig:array<long>> column —
    the fast-path equivalent of ``shingle_ids`` + ``minhash_signature``."""
    out_t = T.StructType(
        [
            T.StructField("sh", T.ArrayType(T.LongType())),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(out_t)
    def _f(s: pd.Series) -> pd.DataFrame:
        sh, sig = _minhash_kernel(s.fillna("").tolist(), k, num_hashes)
        return pd.DataFrame({"sh": sh, "sig": sig})

    return _f(F.col(text_col) if isinstance(text_col, str) else text_col)


def _simhash_kernel(texts):
    """Batch 32-bit SimHash over splitmix64-mixed token hashes: bit
    b is set when more of a document's tokens have bit b set than
    not."""
    word_h, offsets = _token_hashes(texts)
    word_h = _mix64(word_h)
    bit_idx = np.arange(32, dtype=np.uint64)
    out = np.empty(len(offsets) - 1, dtype=np.int64)
    for i in range(len(offsets) - 1):
        w = word_h[offsets[i] : offsets[i + 1]]
        if w.size == 0:
            out[i] = 0
            continue
        bits = (w[:, None] >> bit_idx[None, :]) & np.uint64(1)
        sums = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        out[i] = int(((sums > 0).astype(np.uint64) << bit_idx).sum())
    return out


def simhash_batch(text_col: Column | str) -> Column:
    """Arrow-batched 32-bit SimHash column (:func:`_simhash_kernel`)."""
    @F.pandas_udf(T.LongType())
    def _f(s: pd.Series) -> pd.Series:
        return pd.Series(_simhash_kernel(s.fillna("").tolist()))

    return _f(F.col(text_col) if isinstance(text_col, str) else text_col)


def _rows_per_band(num_hashes: int, bands: int) -> int:
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently drop signature rows and change the "
            "similarity threshold curve"
        )
    return num_hashes // bands


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    arrow: bool = True,
) -> DataFrame:
    """The materializable signature relation ``(id, sh, sig)`` — the
    standing table a near-dup deployment can persist between
    batches.

    ``sh`` is the shingle-id set (for the exact-Jaccard rescore),
    ``sig`` the MinHash signature (for LSH banding). Both are pure
    functions of the text content, so rows written by one batch match
    rows recomputed by any later batch or cluster layout.
    """
    # the shingle/signature projection is the CPU-heavy stage; small or
    # single-file inputs arrive as one partition, so spread it first
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    if arrow:
        return df.select(
            F.col(id_col).alias("id"),
            shingle_sig_batch(text_col, k_shingle, num_hashes).alias("_ss"),
        ).select("id", F.col("_ss.sh").alias("sh"), F.col("_ss.sig").alias("sig"))
    return df.select(
        F.col(id_col).alias("id"), shingle_ids(text_col, k_shingle).alias("sh")
    ).withColumn("sig", minhash_signature("sh", num_hashes))


def band_explode(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``(id, band_hash)`` — one row per (doc, band). The band hash
    mixes the band INDEX with that band's signature slice, so equal
    slices in different bands never collide into one bucket."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    band_arr = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.lit(b),
                    *[
                        F.col("sig").getItem(b * rows_per_band + r)
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    return sigs.withColumn("band_hash", F.explode(band_arr)).select(
        "id", "band_hash"
    )


def minhash_pairs_exact(
    sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold_num: int = 1,
    threshold_den: int = 5,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-dup pairs from a materialized signature relation
    ``(id, sh, sig)`` — the SQL-certifiable formulation.

    Same banding / hot-bucket cap / bucket self-join as
    :func:`minhash_near_dups`, but with every float removed so a SQL
    engine reading the same signature table reproduces the output
    bit-for-bit: the threshold is the exact rational test
    ``inter * threshold_den >= union * threshold_num`` (no rounded
    Jaccard near the cut line), and the score is integer basis points
    ``(inter * 10000) div union``. Output: (id_a, id_b, score_bp).

    100 TB shape is unchanged from the live path: one band-explode of
    the signature table, an equi-join on band buckets, and a rescore
    join that touches only candidate ids, so this is also the query
    you run over a persisted signature store without re-reading any
    text.
    """
    banded = band_explode(sigs, num_hashes, bands)
    banded = cap_hot_buckets(banded, ["band_hash"], max_bucket_size)
    left, right = banded.alias("l"), banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = sigs.select("id", "sh")
    cands = pairs.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |A ∪ B| = |A| + |B| − |A ∩ B| — arithmetic, not array_union (the
    # sets are distinct by construction), so the oracle's len() algebra
    # is the literal same computation
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.select("id_a", "id_b", inter.alias("_i"), union.alias("_u"))
        .filter(F.col("_i") * threshold_den >= F.col("_u") * threshold_num)
        .select(
            "id_a",
            "id_b",
            F.expr("_i * 10000 div greatest(_u, 1)").alias("score_bp"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 256,
    arrow: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH banding + exact Jaccard rescore.

    Plan shape (scale-critical): docs → (shingles, signature) once;
    explode ``bands`` band-hashes per doc; self-equi-join on
    (band, band_hash) buckets; dedupe candidate pairs; rescore with
    exact Jaccard on the shingle sets; filter by threshold.
    No crossJoin anywhere — the join key is the LSH bucket.

    ``max_bucket_size`` guards the self-join against hot buckets
    (boilerplate collisions → quadratic pair blowup): buckets above
    the cap are skipped entirely (see :func:`cap_hot_buckets`);
    audit the skips with ``hot_buckets(banded, ["band_hash"], cap)``.
    ``None`` disables the guard.

    ``arrow=True`` (default) computes shingles+signature with the
    numpy batch kernel (:func:`shingle_sig_batch`, ~20x less CPU);
    ``arrow=False`` keeps the pure-built-in HOF path. Same banding,
    join, and exact-Jaccard rescore either way.
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    base = minhash_signatures(
        df, text_col, id_col, k_shingle, num_hashes, arrow
    )
    # the shingle/signature stage feeds three plan branches (banding +
    # both sides of the pair rejoin); persist so the expensive
    # normalize→shingle→hash scan runs once, mirroring the
    # materialize-signatures-then-join shape a production pipeline uses.
    # Lifetime note: the cache lives until session end (default
    # MEMORY_AND_DISK — Spark evicts/spills under pressure); a caller
    # that owns the session can df.unpersist() the returned plan's
    # cached ancestor, and a production pipeline writes signatures to a
    # table instead of caching.
    base = base.persist()

    # band the ids WITHOUT the shingle arrays: the exploded (4x) rows and
    # the self-join shuffle then move only (id, band_hash) pairs — wide
    # array payloads rejoin once per side, keyed by id, after dedupe
    banded = band_explode(base, num_hashes, bands)
    banded = cap_hot_buckets(banded, ["band_hash"], max_bucket_size)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    sets = base.select("id", "sh")
    cands = pairs.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.withColumn(
            "jaccard", F.round(inter / F.greatest(union, F.lit(1)), 4)
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- simhash ----------------------------------------------------------------


def simhash_pairs(
    hashed: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Block-LSH + popcount rescore over a precomputed hash relation
    ``(id, sh)`` (``sh`` = 32-bit SimHash as long, see
    :func:`simhash_batch`), so a MATERIALIZED hash table
    (e.g. the committed signature artifact the certified registry
    query reads) goes straight to pairs without re-hashing text, and
    so a SQL oracle can reproduce the byte-block bucketing, cap, and
    ``bit_count(xor)`` rescore from the same file."""
    base = hashed
    blocks = F.array(
        *[
            F.concat_ws(
                ":", F.lit(i), F.shiftright("sh", i * 8).bitwiseAND(F.lit(0xFF))
            )
            for i in range(4)
        ]
    )
    banded = base.withColumn("blk", F.explode(blocks))
    banded = cap_hot_buckets(banded, ["blk"], max_bucket_size)
    left, right = banded.alias("l"), banded.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
