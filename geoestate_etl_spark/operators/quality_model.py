"""Model-based document quality scoring — the fastText-style
classifier gate (Joulin et al. 2016; used by CCNet/LLaMA-style corpus
pipelines to keep "reference-like" text) next to the heuristic
:func:`functions.text.quality_score`.

The model is trained offline (``tools/gen_quality_weights.py``) and
frozen as integer token weights in ``functions/quality_weights.py``;
serving is one map-side Column over the full corpus — no Python in the
hot path, no join, no driver loop.

Reference scope: the reference (`dags/main.py`) has no model surface;
this extends the engine's training-data toolkit (SURVEY §2 extension
tier) alongside dedup/decontam/repetition/LM-score.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.text import TOKEN_PATTERN, normalize_text


def token_margin_micro(
    weights_micro: dict[str, int],
    intercept_micro: int,
    text_col: str = "text",
    token_pattern: str = TOKEN_PATTERN,
) -> Column:
    """EXACT-integer classifier margin from frozen token-keyed weights
    (``functions/quality_weights.py``) as a pure map-side Column:

        intercept_micro + Σ_token_occurrences weights_micro[token]

    Integer micro-unit arithmetic makes the score order-independent
    and cross-engine reproducible — this is the serving shape the
    ``text_metrics`` oracle certifies (column ``mq_margin_micro``).
    Unknown tokens contribute 0; NULL/empty text scores the intercept.
    Threshold the margin directly (sigmoid is monotone)."""
    wmap = F.create_map(
        *[
            x
            for t, w in sorted(weights_micro.items())
            for x in (F.lit(t), F.lit(int(w)))
        ]
    )
    toks = F.coalesce(
        F.regexp_extract_all(normalize_text(text_col), F.lit(token_pattern), 0),
        F.array().cast("array<string>"),
    )
    return F.aggregate(
        toks,
        F.lit(int(intercept_micro)).cast("long"),
        lambda acc, t: acc + F.coalesce(wmap[t], F.lit(0)).cast("long"),
    )
