"""Corpus-trained stupid-backoff trigram language model (KenLM-style).

BASELINE.json's north rule calls for "KenLM-style n-gram perplexity
scoring ... as batched pandas/Arrow UDFs". The model seam
(udfs/scoring.py: ``ppl_model_loader`` expecting ``.perplexity(text)``)
has been in place since round 3; this module supplies an actual model to
put behind it, TRAINED ON THE CORPUS ITSELF with bounded distributed
aggregations — no external weights, no network. Stupid backoff (Brants
et al. 2007, "Large Language Models in Machine Translation") is the
web-scale choice: counts only, no discount fitting pass, and at Google
scale it matched Kneser-Ney within noise.

Training (two bounded passes, the dsir-NB / BPE driver-model precedent):

1. ONE unigram aggregation over raw tokens (pure column algebra:
   regexp_extract_all + explode, no UDF). Top ``v_cap`` words by
   (count DESC, word ASC) become the closed vocabulary.
2. ONE Arrow pass re-tokenizes with out-of-vocab words replaced by
   ``<unk>`` (KenLM's closed-vocab convention), then three groupBy
   counts over the persisted tokenized projection: unigrams (all —
   bounded by v_cap+1), bigrams and trigrams capped at top
   ``b_cap``/``t_cap`` by (count DESC, keys ASC). Every cap is a
   deterministic total order, so the model is IDENTICAL across
   partitionings (pinned by tests).

At 10^12 docs the aggregations are the classic wordcount shape —
map-side partial aggregation bounds each exchange by the distinct grams
per partition, and the driver holds at most v_cap+b_cap+t_cap rows.
Scoring is embarrassingly parallel: the model rides to executors as a
broadcast closure (content-digest cache key computed ONCE on the
driver — cloudpickle bytes are not round-trip stable), one Arrow batch
pass, zero shuffle.

Tokenization is ``[A-Za-z]+`` runs lowercased AFTER extraction — the
ASCII-only lowercase dodges unicode ``lower()`` divergence between
engines, which is what makes the FULL value-hash DuckDB oracle possible
(prototyped engine-parity-first: 0 mismatches at sf0.001/sf0.01
including forced cap pressure; now pinned by the `ngram_lm_score`
driver oracle).

Scoring term per token at position i (0-based), mirrored EXACTLY (same
expression shapes, same left-fold order, shared floor(x*1e6+0.5)/1e6
rounding) by the python mirror here, the Arrow UDF (same code), and the
DuckDB oracle SQL in __spark_entry__:

    i>=2 and trigram + its context bigram survive the caps:
        ln(c(w1,w2,w3) / c(w1,w2))
    bigram (w2,w3) + context unigram survive:
        k*ln(0.4) + ln(c(w2,w3) / c(w2))      k = 1 if i>=2 else 0
    else (unigram with add-one for scoring-time OOV):
        m*ln(0.4) + ln((c(w3)+1) / (total+v_cap+1))   m = min(i, 2)

Reference parity: DataQualityKit has no language model at all — this is
an engine-side addition required by the north rule (fastText/KenLM
scoring), sharing the validate-then-fix shape of QualityControl.py's
per-column checks (a score column + a threshold gate).

NOTE when wiring behind ``PipelineConfig.ppl_model_loader``: a word
trigram LM's perplexity scale differs from the embedded char-bigram
stand-in's (verified end-to-end: the default ``max_ppl`` threshold drops
far more docs under this model) — set ``cfg.max_ppl`` for the model you
ship, as you would for a real KenLM binary.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_REGEX = "[A-Za-z]+"
_TOKEN_RE = re.compile(TOKEN_REGEX)
UNK = "<unk>"
_LN04 = math.log(0.4)


def _round6(x: float) -> float:
    """The shared Spark/DuckDB tie rule for 1e-6 rounding (STATE.md
    round-6 item 10): floor(x*1e6+0.5)/1e6 on BOTH sides."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def tokens_of(text: str | None) -> list[str]:
    """ASCII-letter runs, lowercased after extraction (see module doc)."""
    if not text:
        return []
    return [m.lower() for m in _TOKEN_RE.findall(text)]


@dataclass
class NgramLM:
    """Counts-only stupid-backoff trigram LM. ``perplexity(text)``
    satisfies the KenLM interface expected by
    ``PipelineConfig.ppl_model_loader`` (udfs/scoring.py:166)."""

    vocab: set[str]
    uni: dict[str, int]
    bi: dict[tuple[str, str], int]
    tri: dict[tuple[str, str, str], int]
    total: int
    v_cap: int
    _sub_cache: dict[str, str] = field(default_factory=dict, repr=False)

    def substitute(self, words: list[str]) -> list[str]:
        v = self.vocab
        return [w if w in v else UNK for w in words]

    def score_details(
        self, text: str | None
    ) -> tuple[int, int, int, int, float | None]:
        """(n_tokens, n_tri, n_bi, n_uni, avg_logprob rounded 1e-6).

        The left-fold accumulation order and the exact expression shape
        of each term are load-bearing: the DuckDB oracle reproduces them
        term-for-term (list_reduce left fold), so the float path never
        diverges across engines on this libm."""
        ws = self.substitute(tokens_of(text))
        n = len(ws)
        if n == 0:
            return (0, 0, 0, 0, None)
        uni, bi, tri, total, v_cap = (
            self.uni,
            self.bi,
            self.tri,
            self.total,
            self.v_cap,
        )
        n_tri = n_bi = n_uni = 0
        s = 0.0
        first = True
        for i, w in enumerate(ws):
            if i >= 2:
                ctx = (ws[i - 2], ws[i - 1])
                tc = tri.get((ctx[0], ctx[1], w))
                cc = bi.get(ctx)
            else:
                tc = cc = None
            if tc is not None and cc is not None:
                term = math.log(tc / cc)
                n_tri += 1
            else:
                bc = bi.get((ws[i - 1], w)) if i >= 1 else None
                uc = uni.get(ws[i - 1]) if i >= 1 else None
                if bc is not None and uc is not None:
                    k = 1 if i >= 2 else 0
                    term = k * _LN04 + math.log(bc / uc)
                    n_bi += 1
                else:
                    m = min(i, 2)
                    term = m * _LN04 + math.log(
                        (uni.get(w, 0) + 1) / (total + v_cap + 1)
                    )
                    n_uni += 1
            if first:
                s, first = term, False
            else:
                s = s + term
        return (n, n_tri, n_bi, n_uni, _round6(s / n))

    def avg_logprob(self, text: str | None) -> float | None:
        return self.score_details(text)[4]

    def perplexity(self, text: str | None) -> float:
        """KenLM-shaped: exp(-avg_logprob). Empty text scores the OOV
        floor (worst case) rather than raising, matching the embedded
        char-bigram model's missing-text contract."""
        avg = self.avg_logprob(text)
        if avg is None:
            return math.exp(-(2 * _LN04 + math.log(1 / (self.total + self.v_cap + 1))))
        return math.exp(-avg)


def _raw_tokens_col(text_col: str) -> Column:
    return F.transform(
        F.regexp_extract_all(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(TOKEN_REGEX), F.lit(0)
        ),
        lambda w: F.lower(w),
    )


def train_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    v_cap: int = 65536,
    b_cap: int = 262144,
    t_cap: int = 262144,
) -> NgramLM:
    """Train on a corpus DataFrame. See module docstring for the pass
    structure and scale analysis. Deterministic across partitionings:
    every driver-bound collect is a total-order top-k."""
    spark = df.sparkSession
    raw = df.select(F.explode(_raw_tokens_col(text_col)).alias("w"))
    vocab_rows = (
        raw.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(v_cap)
        .collect()
    )
    vocab = {r["w"] for r in vocab_rows}

    def sub_batch(texts):  # no type hints (pandas_udf eval-type inference
        # rejects string annotations under `from __future__ import
        # annotations` — the repo-wide convention)
        def sub(t):
            return [w if w in vocab else UNK for w in tokens_of(t)]

        return texts.map(sub)

    sub_udf = F.pandas_udf(sub_batch, returnType="array<string>")
    tok = df.select(sub_udf(F.col(text_col)).alias("ws")).persist()
    try:
        n1 = F.greatest(F.size("ws") - 1, F.lit(0))
        n2 = F.greatest(F.size("ws") - 2, F.lit(0))
        uni_rows = (
            tok.select(F.explode("ws").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        bi_rows = (
            tok.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("ws", 1, n1).alias("a"),
                        F.slice("ws", 2, n1).alias("b"),
                    )
                ).alias("g")
            )
            .groupBy(F.col("g.a").alias("a"), F.col("g.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(b_cap)
            .collect()
        )
        tri_rows = (
            tok.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("ws", 1, n2).alias("a"),
                        F.slice("ws", 2, n2).alias("b"),
                        F.slice("ws", 3, n2).alias("cc"),
                    )
                ).alias("g")
            )
            .groupBy(
                F.col("g.a").alias("a"),
                F.col("g.b").alias("b"),
                F.col("g.cc").alias("cc"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(
                F.col("c").desc(),
                F.col("a").asc(),
                F.col("b").asc(),
                F.col("cc").asc(),
            )
            .limit(t_cap)
            .collect()
        )
    finally:
        tok.unpersist()
    uni = {r["w"]: r["c"] for r in uni_rows}
    return NgramLM(
        vocab=vocab,
        uni=uni,
        bi={(r["a"], r["b"]): r["c"] for r in bi_rows},
        tri={(r["a"], r["b"], r["cc"]): r["c"] for r in tri_rows},
        total=sum(uni.values()),
        v_cap=v_cap,
    )


def py_train(texts: list[str], v_cap: int, b_cap: int, t_cap: int) -> NgramLM:
    """Driver-side mirror of train_ngram_lm for tests (same caps, same
    tie order: python tuple comparison == binary-collation ASC on these
    ASCII-only keys)."""
    from collections import Counter

    uni_raw: Counter = Counter()
    for t in texts:
        uni_raw.update(tokens_of(t))
    vocab = {
        w
        for w, _ in sorted(uni_raw.items(), key=lambda kv: (-kv[1], kv[0]))[:v_cap]
    }
    uni: Counter = Counter()
    bi: Counter = Counter()
    tri: Counter = Counter()
    for t in texts:
        ws = [w if w in vocab else UNK for w in tokens_of(t)]
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
        tri.update(zip(ws, ws[1:], ws[2:]))
    return NgramLM(
        vocab=vocab,
        uni=dict(uni),
        bi=dict(sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:b_cap]),
        tri=dict(sorted(tri.items(), key=lambda kv: (-kv[1], kv[0]))[:t_cap]),
        total=sum(uni.values()),
        v_cap=v_cap,
    )


_SCORE_SCHEMA = (
    "n_tokens int, n_tri int, n_bi int, n_uni int, avg_logprob double"
)


def score_documents(
    df: DataFrame, model: NgramLM, text_col: str = "text"
) -> DataFrame:
    """Adds n_tokens/n_tri/n_bi/n_uni/avg_logprob columns (one Arrow
    pass, zero shuffle; the model is a broadcast closure). avg_logprob
    is rounded 1e-6 with the shared cross-engine tie rule; NULL for
    token-less docs."""
    import pandas as pd

    def batch(texts):  # no type hints (see train_ngram_lm)
        rows = [model.score_details(t) for t in texts]
        return pd.DataFrame(
            rows, columns=["n_tokens", "n_tri", "n_bi", "n_uni", "avg_logprob"]
        )

    udf = F.pandas_udf(batch, returnType=_SCORE_SCHEMA)
    out = df.withColumn("_lm", udf(F.col(text_col)))
    return out.select(
        "*",
        F.col("_lm.n_tokens").alias("n_tokens"),
        F.col("_lm.n_tri").alias("n_tri"),
        F.col("_lm.n_bi").alias("n_bi"),
        F.col("_lm.n_uni").alias("n_uni"),
        F.col("_lm.avg_logprob").alias("avg_logprob"),
    ).drop("_lm")
