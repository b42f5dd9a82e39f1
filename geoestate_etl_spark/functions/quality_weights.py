"""Frozen token-weight quality model — the literal-constant serving
artifact that makes model-based quality scoring DRIVER-ORACLED.

Provenance (``tools/gen_quality_weights.py`` regenerates and diffs
against these literals — zero drift at commit time): a logistic
regression (pyspark.ml, maxIter=100, regParam=1e-4, L2,
standardization=False) self-distilled from the heuristic gate — labels
``quality_score(text) >= 0.5`` — over the sf0.01 ``documents`` table's
term-frequency features, one feature per DISTINCT TOKEN of the corpus
(the synthetic corpus has a closed 31-token vocabulary, so token-keyed
weights need no hashing trick). Each coefficient is frozen here as an
integer in MICRO-units, exactly like the LSH hyperplane literals
(``operators/similarity.py``): the serving margin

    margin_micro = INTERCEPT_MICRO + Σ_token_occurrences w_micro[token]

is then EXACT integer arithmetic — order-independent, ANSI-safe, and
reproducible by any engine from the same literals, which is what lets
a DuckDB oracle certify the scoring path end-to-end (``text_metrics``
column ``mq_margin_micro``). The sigmoid is monotone, so thresholding
the margin is thresholding the probability; serve
``sigmoid(margin_micro / 1e6)`` where a probability is wanted.

:func:`operators.quality_model.token_margin_micro` serves these
weights as one map-side Column.
"""

from __future__ import annotations

#: token → round(coefficient * 1e6). Stopword-ish tokens ('a', 'the')
#: dominate positively because the distilled heuristic's strongest
#: term is the stopword ratio — the distillation is honest.
TOKEN_WEIGHTS_MICRO: dict[str, int] = {
    "a": 7911891,
    "agg": 725258,
    "batch": 410047,
    "big": -220011,
    "column": -120364,
    "customer": -147449,
    "data": 214166,
    "dup": -71036,
    "fast": -306110,
    "filter": 196904,
    "group": 387406,
    "hash": 499642,
    "join": 192518,
    "key": 104151,
    "line": 161046,
    "merge": 14333,
    "order": -196444,
    "part": -28631,
    "query": 386602,
    "row": -33002,
    "scan": -46809,
    "slow": 134872,
    "small": -32587,
    "sort": -39135,
    "spark": 324952,
    "stream": 105297,
    "table": -99141,
    "the": 7712249,
    "value": 24624,
    "vector": -150546,
    "window": 143396,
}

INTERCEPT_MICRO: int = -5897196
