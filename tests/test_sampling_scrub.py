"""Token-budget sampling + PII scrubbing (training-data hygiene
operators)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.text import scrub_pii


def test_scrub_pii_tokens(spark):
    df = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+x@example.org or visit https://a.b/c?q=1 soon"),
            (2, "server 10.0.0.1 answered; call +1 (555) 123-4567 now"),
            (3, "no pii here, just the year 2024 and pi 3.14"),
        ],
        ["id", "text"],
    )
    out = {r.id: r.clean for r in df.select("id", scrub_pii("text").alias("clean")).collect()}
    assert out[1] == "contact me at <EMAIL> or visit <URL> soon"
    assert out[2] == "server <IP> answered; call <PHONE> now"
    assert out[3] == "no pii here, just the year 2024 and pi 3.14"


def test_partitioned_cumsum_matches_per_group_window(spark):
    """scalable_cumsum(partition_cols=[g]) == plain per-group window
    cumsum, while parallelizing WITHIN groups (bucket+group window)."""
    from pyspark.sql import Window

    from geoestate_etl_spark.operators.prefix import scalable_cumsum

    rows = [(i, f"g{i % 3}", (i * 37) % 50 + 1) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    got = {
        (r.g, r.id): r.c
        for r in scalable_cumsum(df, "id", "v", "c", partition_cols=["g"]).collect()
    }
    w = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        (r.g, r.id): r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_sample_to_token_budget_semantics(spark):
    """Budget rule: keep docs whose domain-local start offset < budget
    (last kept doc may overshoot); unknown domains drop; deterministic
    across reruns."""
    from geoestate_etl_spark.operators.sampling import sample_to_token_budget

    rows = [(i, ["en", "de", "xx"][i % 3], 100) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_toks long")
    out = sample_to_token_budget(
        df, "lang", "n_toks", {"en": 1000, "de": 250}, id_col="doc_id"
    )
    rowsets = {
        lang: sorted(
            (r.domain_start, r.doc_id)
            for r in out.filter(F.col("lang") == lang).collect()
        )
        for lang in ["en", "de", "xx"]
    }
    # en: starts 0,100,...,900 -> exactly 10 docs (budget hit exactly)
    assert [s for s, _ in rowsets["en"]] == list(range(0, 1000, 100))
    # de: starts 0,100,200 -> 3 docs, the last OVERSHOOTS to 300 total
    assert [s for s, _ in rowsets["de"]] == [0, 100, 200]
    assert rowsets["xx"] == []  # no budget -> dropped
    again = sample_to_token_budget(
        df, "lang", "n_toks", {"en": 1000, "de": 250}, id_col="doc_id"
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_sample_to_token_budget_custom_order(spark):
    """Quality-first selection: ordering by a score column keeps the
    best documents up to the budget."""
    from geoestate_etl_spark.operators.sampling import sample_to_token_budget

    rows = [(i, "en", 10, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_toks long, badness double")
    out = sample_to_token_budget(
        df, "lang", "n_toks", {"en": 200}, order_col=F.col("badness")
    )
    assert sorted(r.doc_id for r in out.collect()) == list(range(20))


def test_consume_token_budget_fold_invariance(spark):
    """Two batches fed sequentially == one sample_to_token_budget run
    over the concatenation in arrival-major (batch, md5) order."""
    from geoestate_etl_spark.operators.sampling import (
        consume_token_budget,
        sample_to_token_budget,
    )

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, ["en", "zh"][i % 2], 50) for i in range(lo, hi)],
            "doc_id long, lang string, n_toks long",
        )

    budgets = {"en": 700, "zh": 300}
    k1, c1 = consume_token_budget(mk(0, 20), None, "lang", "n_toks", budgets)
    c1 = spark.createDataFrame(c1.collect(), "lang string, tokens long")  # materialize state
    k2, c2 = consume_token_budget(mk(20, 40), c1, "lang", "n_toks", budgets)
    seq_ids = sorted(
        [r.doc_id for r in k1.collect()] + [r.doc_id for r in k2.collect()]
    )

    full = mk(0, 40).withColumn(
        "_arr",
        F.concat(
            F.when(F.col("doc_id") < 20, F.lit("a")).otherwise(F.lit("b")),
            F.md5(F.col("doc_id").cast("string")),
        ),
    )
    want = sample_to_token_budget(
        full, "lang", "n_toks", budgets, order_col=F.col("_arr")
    )
    assert seq_ids == sorted(r.doc_id for r in want.collect())
    # consumed state: kept tokens only, includes both domains
    state = {r.lang: r.tokens for r in c2.collect()}
    assert state["en"] == 50 * len([i for i in seq_ids if i % 2 == 0])
    assert state["zh"] == 50 * len([i for i in seq_ids if i % 2 == 1])


def test_consume_token_budget_exhausted_domain_stays(spark):
    """A domain exhausted in batch 1 admits nothing in batch 2, and its
    consumed row survives the state fold."""
    from geoestate_etl_spark.operators.sampling import consume_token_budget

    b1 = spark.createDataFrame(
        [(i, "en", 100) for i in range(5)], "doc_id long, lang string, n_toks long"
    )
    k1, c1 = consume_token_budget(b1, None, "lang", "n_toks", {"en": 250})
    assert k1.count() == 3  # starts 0,100,200 — overshoot kept
    b2 = spark.createDataFrame(
        [(i, "en", 100) for i in range(5, 10)],
        "doc_id long, lang string, n_toks long",
    )
    k2, c2 = consume_token_budget(b2, c1, "lang", "n_toks", {"en": 250})
    assert k2.count() == 0
    assert {r.lang: r.tokens for r in c2.collect()} == {"en": 300}


def test_partitioned_cumsum_null_group_survives(spark):
    """NULL group values are their own group (plain-window semantics),
    not silently dropped by the offsets join (review finding: the
    null-unsafe equi-join lost them)."""
    from pyspark.sql import Window

    from geoestate_etl_spark.operators.prefix import scalable_cumsum

    rows = [(i, None if i % 3 == 0 else f"g{i % 3}", 1) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    out = scalable_cumsum(df, "id", "v", "c", partition_cols=["g"])
    assert out.count() == 600
    w = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {(r.g, r.id): r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    got = {(r.g, r.id): r.c for r in out.collect()}
    assert got == want


def test_consume_budget_nonstring_domain_and_str_order(spark):
    """Review findings: integer domain columns keep their dtype in the
    state table; order_col accepts a plain column NAME."""
    from geoestate_etl_spark.operators.sampling import (
        consume_token_budget,
        sample_to_token_budget,
    )

    df = spark.createDataFrame(
        [(i, i % 2, 50, float(i)) for i in range(20)],
        "doc_id long, dom int, n long, score double",
    )
    kept, state = consume_token_budget(
        df, None, "dom", "n", {0: 150, 1: 100}, id_col="doc_id"
    )
    assert dict(state.dtypes)["dom"] == "int"
    assert kept.count() == 3 + 2
    # str order_col: quality-first by name
    out = sample_to_token_budget(
        df, "dom", "n", {0: 150}, order_col="score"
    )
    assert sorted(r.doc_id for r in out.collect()) == [0, 2, 4]


# --- generative fold invariance for budget consumption ----------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_ROW = st.tuples(
    st.sampled_from(["en", "de", "zh"]),
    st.integers(min_value=1, max_value=120),  # weights
)


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(_ROW, min_size=3, max_size=16),
    cuts=st.lists(st.integers(min_value=1, max_value=14), min_size=1, max_size=2),
    budgets=st.fixed_dictionaries(
        {"en": st.integers(min_value=0, max_value=400),
         "zh": st.integers(min_value=0, max_value=400)}
    ),
)
@pytest.mark.slow  # r10 verify-window tier (randomized property sweep; deterministic fold tests stay fast)
def test_consume_budget_fold_invariant_random(spark, rows, cuts, budgets):
    """For ANY corpus, ANY budgets, and ANY 2-3-batch split: sequential
    consumption selects exactly what one full run over the arrival-
    major concatenation selects."""
    from geoestate_etl_spark.operators.sampling import (
        consume_token_budget,
        sample_to_token_budget,
    )

    data = [(i, d, w) for i, (d, w) in enumerate(rows)]
    points = sorted({min(c, len(data) - 1) for c in cuts})
    bounds = [0, *points, len(data)]
    state, seq_ids = None, []
    for bi in range(len(bounds) - 1):
        chunk = data[bounds[bi]:bounds[bi + 1]]
        if not chunk:
            continue
        b = spark.createDataFrame(chunk, "doc_id long, dom string, w long")
        kept, state = consume_token_budget(b, state, "dom", "w", budgets)
        state = spark.createDataFrame(
            state.collect(), "dom string, tokens long"
        )
        seq_ids += [r.doc_id for r in kept.collect()]

    full = spark.createDataFrame(data, "doc_id long, dom string, w long")
    arrival = F.concat(
        F.lpad(
            sum(
                F.when(F.col("doc_id") >= b, 1).otherwise(0)
                for b in bounds[1:-1]
            ).cast("string"),
            3, "0",
        ),
        F.md5(F.col("doc_id").cast("string")),
    )
    want = sample_to_token_budget(full, "dom", "w", budgets, order_col=arrival)
    assert sorted(seq_ids) == sorted(r.doc_id for r in want.collect())
