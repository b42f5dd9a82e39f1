"""Frozen-literal quality model: the integer token-weight margin
served as one Column matches an independent stdlib recomputation."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st


def test_token_margin_micro_matches_pure_python(spark):
    """The frozen-literal integer margin == an independent stdlib
    recomputation (normalize → regex tokens → weight sum), including
    unknown-token, empty and NULL text."""
    import re

    from geoestate_etl_spark.functions.quality_weights import (
        INTERCEPT_MICRO,
        TOKEN_WEIGHTS_MICRO,
    )
    from geoestate_etl_spark.functions.text import TOKEN_PATTERN
    from geoestate_etl_spark.operators.quality_model import token_margin_micro

    rows = [
        (1, "The QUICK   a a JOIN join zz"),
        (2, ""),
        (3, None),
        (4, "unseen tokens only xyzzy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def py_margin(t):
        if not t:
            return INTERCEPT_MICRO
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        toks = re.findall(TOKEN_PATTERN, norm)
        return INTERCEPT_MICRO + sum(TOKEN_WEIGHTS_MICRO.get(x, 0) for x in toks)

    got = {
        r.doc_id: r.m
        for r in df.select(
            "doc_id",
            token_margin_micro(
                TOKEN_WEIGHTS_MICRO, INTERCEPT_MICRO, "text"
            ).alias("m"),
        ).collect()
    }
    assert got == {i: py_margin(t) for i, t in rows}


# --- hypothesis property tier ------------------------------------------------

_TOK = st.sampled_from(
    ["the", "a", "join", "scan", "fast", "slow", "XYZZY", "Zz9", "!", "7",
     "TABLE", "The"]
)
_TXT = st.lists(_TOK, min_size=0, max_size=25).map("  ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_TXT, min_size=1, max_size=6))
def test_margin_micro_matches_python_reference(spark, texts):
    """Random casings/spacings/unknown tokens: the Column margin ==
    the stdlib recomputation (normalize → regex tokens → int sum)."""
    import re

    from geoestate_etl_spark.functions.quality_weights import (
        INTERCEPT_MICRO,
        TOKEN_WEIGHTS_MICRO,
    )
    from geoestate_etl_spark.functions.text import TOKEN_PATTERN
    from geoestate_etl_spark.operators.quality_model import token_margin_micro

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.m
        for r in df.select(
            "doc_id",
            token_margin_micro(
                TOKEN_WEIGHTS_MICRO, INTERCEPT_MICRO, "text"
            ).alias("m"),
        ).collect()
    }
    for i, t in rows:
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        toks = re.findall(TOKEN_PATTERN, norm)
        want = INTERCEPT_MICRO + sum(
            TOKEN_WEIGHTS_MICRO.get(x, 0) for x in toks
        )
        assert got[i] == want, (i, t)
