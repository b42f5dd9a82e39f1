"""Dedup-operator semantics on constructed fixtures (the synthetic
documents table has no true dups, so these pin behavior with known
planted duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.dedup import (
    dedup_by_key,
    dedup_exact,
    minhash_near_dups,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
OTHER = "completely different words about database engines and columnar storage"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, "  THE   quick brown fox jumps over the lazy dog again and again today "),
        # ^ normalizes to BASE (case+whitespace) -> exact dup after normalize
        (4, NEAR),  # near dup of 1 (one word differs)
        (5, OTHER),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_finds_normalized_dups(docs):
    out = {r.keeper_id: r.n_copies for r in dedup_exact(docs, "text", "doc_id").collect()}
    assert out[1] == 3  # docs 1,2,3 share a fingerprint; keeper = min id
    assert out[4] == 1 and out[5] == 1


def test_dedup_by_key_deterministic_keeper(spark):
    df = spark.createDataFrame(
        [(10, "a"), (7, "a"), (99, "b")], ["id", "k"]
    )
    out = {r.k: (r.keeper_id, r.n_copies) for r in dedup_by_key(df, ["k"], "id").collect()}
    assert out == {"a": (7, 2), "b": (99, 1)}


def test_minhash_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dups(docs, "text", "doc_id", jaccard_threshold=0.3).collect()
    }
    assert (1, 4) in pairs or (1, 2) in pairs  # near/exact dups surface
    assert pairs.get((1, 2)) == 1.0  # exact dup -> jaccard 1
    assert all(not (a == 5 or b == 5) for a, b in pairs)  # OTHER matches nothing


def test_minhash_survives_short_and_empty_docs(spark):
    """Docs shorter than k words must not crash the numeric shingle
    path under ANSI mode (review finding: element_at OOB)."""
    df = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "one two"), (4, BASE), (5, BASE)],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(df, "text", "doc_id", jaccard_threshold=0.9).collect()
    }
    assert (4, 5) in pairs  # the planted dup still surfaces


def test_minhash_rejects_indivisible_bands(spark):
    df = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        minhash_near_dups(df, "text", "doc_id", num_hashes=16, bands=5)


def test_shingle_ids_large_k_no_ansi_overflow(spark):
    """k >= 8 used to overflow the signed-64 polynomial combine and
    throw under ANSI mode (advice finding); the per-step 57-bit mask
    keeps any k safe."""
    from geoestate_etl_spark.operators.dedup import shingle_ids

    text = " ".join(f"word{i}" for i in range(40))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = df.select(shingle_ids("text", k=12).alias("sh")).collect()[0].sh
    assert len(out) > 0 and all(isinstance(x, int) for x in out)
    # still deterministic
    again = df.select(shingle_ids("text", k=12).alias("sh")).collect()[0].sh
    assert out == again


# --- signature-family independence (regression: affine-family collapse) -----
#
# Round-1's Broder-style family h1 + j*h2 with a 31-bit h2 was NOT a
# permutation family: j*h2 (< 2^35) never reorders h1's 62-bit spread,
# so one shingle won the min for EVERY seed and the 16-position
# signature carried one hash of information (LSH S-curve degenerated to
# P(candidate) = jaccard). These pin the fixed, independent-seed family
# in both the Arrow kernel and the HOF path.


def test_arrow_kernel_sig_match_tracks_jaccard():
    """Fraction of matching signature positions ≈ true Jaccard (the
    defining MinHash property; the collapsed family gave all-or-nothing
    matches instead). Deterministic: fixed rng seed, fixed hash family."""
    import numpy as np

    from geoestate_etl_spark.operators.dedup import _minhash_kernel

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(1000)]
    jac, match = [], []
    for _ in range(30):
        base = rng.choice(vocab, 100).tolist()
        mod = base.copy()
        for i in rng.choice(100, 30, replace=False):
            mod[i] = str(rng.choice(vocab))
        sh, sig = _minhash_kernel([" ".join(base), " ".join(mod)], 3, 16)
        inter = len(set(sh[0]) & set(sh[1]))
        union = len(set(sh[0]) | set(sh[1]))
        jac.append(inter / union)
        match.append(sum(int(x == y) for x, y in zip(sig[0], sig[1])) / 16)
    assert abs(sum(jac) / 30 - sum(match) / 30) < 0.1
    # the collapsed family can't produce partial matches at all
    assert any(0 < m < 1 for m in match)


def test_hof_signature_positions_independent(spark):
    """Different seeds must be winnable by different shingles: the
    collapsed family made consecutive positions differ by a constant
    (h2 of the single argmin shingle)."""
    from geoestate_etl_spark.operators.dedup import minhash_signature, shingle_ids

    df = spark.createDataFrame([(BASE + " " + OTHER,)], ["text"])
    sig = (
        df.select(minhash_signature(shingle_ids("text", 3), 16).alias("sig"))
        .collect()[0]
        .sig
    )
    diffs = {sig[j + 1] - sig[j] for j in range(len(sig) - 1)}
    assert len(diffs) > 1


def test_hof_and_arrow_paths_agree_on_planted_dups(docs):
    """Both paths surface the exact dup at jaccard 1.0 and never match
    the unrelated doc — same semantics, different hash families."""
    for arrow in (True, False):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_near_dups(
                docs, "text", "doc_id", jaccard_threshold=0.3, arrow=arrow
            ).collect()
        }
        assert pairs.get((1, 2)) == 1.0, f"arrow={arrow}"
        assert all(5 not in p for p in pairs), f"arrow={arrow}"
