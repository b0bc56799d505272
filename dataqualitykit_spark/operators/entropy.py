"""Per-document token-distribution Shannon entropy — the classic
gibberish / template detector (low entropy = a few tokens repeated over
and over: keyword-stuffed SEO pages, log dumps, boilerplate templates;
healthy prose of n tokens sits near its ln(n_distinct) ceiling). Used as
a quality signal alongside the Gopher repetition fractions: repetition
catches VERBATIM repeats, entropy catches small-vocabulary text even
when no single n-gram dominates. No reference analog (QualityControl.py
profiles per-column categorical frequencies, :1068-1180 — never
token-level information content); task-brief training-data op family.

100 TB shape: ONE Arrow pass, zero shuffle — the decision is
doc-local, so the corpus text crosses the JVM<->Python boundary exactly
once and nothing exchanges (contrast corpus_stats.top_ngrams, whose
statistic is corpus-global and must aggregate). A JVM column-algebra
form would need distinct-within-array counting: an O(distinct x tokens)
interpreted HOF per row — the measured per-doc-HOF-vs-Arrow comparison
(PLANS.md round 4: ~0.16 ms/doc interpreted vs 0.27 ms/doc for the
ENTIRE fused Arrow stage) says Arrow wins this shape.

Oracle parity: tokens are semantics.tokenize (ASCII WS_REGEX split, no
case folding — str.lower()/lower() disagree across engines on
multi-char case folds, the repo's measured line_shape lesson) and the
entropy uses math.log, bit-identical to DuckDB ln on this host
(measured, PLANS.md round-5 DSIR notes); summation order still differs
between Counter iteration and the SQL aggregate, so the value is
rounded to 6 on both sides like every float metric in the contract.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..semantics import token_entropy_stats

_RESULT_SCHEMA = "struct<n_tokens: bigint, n_distinct: bigint, entropy: double>"


def py_token_entropy(text: str | None) -> tuple[int, int, float | None]:
    """Pure-python mirror: (n_tokens, n_distinct, raw unrounded entropy).

    H = ln(n) - sum(c * ln(c)) / n  over per-token counts c — the
    numerically stable regrouping of -sum(p ln p) that keeps every ln on
    an INTEGER argument (so both engines hand ln the exact same double).
    Token-less text (NULL / empty / whitespace) -> (0, 0, None).
    Delegates to semantics.token_entropy_stats (the shared mirror the
    fused Arrow scorer's opt-in gate field also uses)."""
    return token_entropy_stats(text)


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_tokens, n_distinct, entropy) — entropy rounded to 6
    (F.round half-up == DuckDB round half-away-from-zero on the
    always-non-negative H), NULL for token-less docs."""

    def batch(texts: pd.Series) -> pd.DataFrame:
        rows = [py_token_entropy(t) for t in texts]
        return pd.DataFrame(rows, columns=["n_tokens", "n_distinct", "entropy"])

    udf = F.pandas_udf(batch, returnType=_RESULT_SCHEMA)
    out = df.select(F.col(id_col).alias("id"), udf(F.col(text_col)).alias("_r"))
    return out.select(
        "id",
        F.col("_r.n_tokens").alias("n_tokens"),
        F.col("_r.n_distinct").alias("n_distinct"),
        F.round(F.col("_r.entropy"), 6).alias("entropy"),
    )
