"""The web-text quality pipeline, dedup-first (CCNet-style ordering):

    ingest (project html away) -> salt repartition by url ->
    missing flag -> url keep-most-recent -> content keep-one (raw-text md5)
    -> [survivors only] fused scrub+score Arrow UDF (every metric +
    langid/ppl) -> quality decide -> labeled frame

Why this shape at 100 TB (BASELINE.json north_rule):

- `html` never enters the pipeline: the ingest projection keeps
  (url, warc_ts, text, lang) so no shuffle ever carries page bytes.
- ONE explicit repartition by url both defuses hot-domain skew before any
  compute and feeds the url window with no further exchange (projections
  preserve partitioning; Window.partitionBy('url') is satisfied).
- Dedup happens BEFORE the Arrow UDF stage on md5 of the raw text, so the
  expensive model scoring (langid, perplexity — fastText/KenLM in
  production) runs once per unique present document, not once per mirror.
- The rule decisions are native column algebra over the scorer's metric
  struct — whole-stage codegen, zero Python outside the one Arrow UDF.
- decide folds flags into (keep, drop_reason) with the pinned priority
  order shared with the oracle (config.DROP_REASON_ORDER).

Re-imagines the reference's check/fix classes as pipeline stages — mapping
table in SURVEY.md §7.0 (NullValues :16-297 -> missing rule; RangeValidity
:642-1051 -> bounds rules; DuplicateValues :1572-2173 -> dedup windows;
EncodingConformity :3241-3573 -> scrub; FormatConsistency :2176-2529 -> PII
bank; CategoricalValidity :1068-1180 -> langid gate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .functions import text as T
from .udfs.scoring import SCORE_SCHEMA, fused_scrub_score_udf

# metric columns produced by the survivor stage (null for dropped rows)
_METRIC_COLS: dict[str, str] = {
    "scrubbed_text": "string",
    "n_chars": "int",
    "n_words": "int",
    "mean_word_len": "double",
    "symbol_ratio": "double",
    "n_lines": "int",
    "distinct_line_ratio": "double",
    "boilerplate_hits": "int",
    "stopword_hits": "int",
    "stopword_density": "double",
    "lang_pred": "string",
    "lang_conf": "double",
    "ppl": "double",
}


def _repetition_flag(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    """Opt-in Gopher repetition gate — reads the dup_line_char_frac /
    dup_5gram_frac columns with_metrics guarantees when either threshold
    is set (computed inside the fused Arrow scorer: the interpreted JVM
    HOF forms were measured at ~0.16 ms/doc, 9x the whole fused stage,
    so the python mirrors ride the existing tokenize pass instead)."""
    if cfg.max_dup_line_char_frac is None and cfg.max_dup_5gram_frac is None:
        return []
    cond = F.lit(False)
    if cfg.max_dup_line_char_frac is not None:
        cond = cond | (F.col("dup_line_char_frac") > cfg.max_dup_line_char_frac)
    if cfg.max_dup_5gram_frac is not None:
        cond = cond | (F.col("dup_5gram_frac") > cfg.max_dup_5gram_frac)
    return [("repetition", ~F.col("_missing") & cond)]


def _line_shape_on(cfg: PipelineConfig) -> bool:
    return (
        cfg.max_bullet_line_frac is not None
        or cfg.max_ellipsis_line_frac is not None
        or cfg.min_alpha_word_frac is not None
    )


def _entropy_flag(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    """Opt-in token-entropy floor — reads the token_entropy column the
    fused scorer emits when the gate is on (the distinct-within-array JVM
    HOF form pays the measured interpreted-expression tax; the Arrow pass
    rides the tokenize it already does). Docs under entropy_min_words
    carry no signal and pass."""
    if cfg.min_token_entropy is None:
        return []
    return [
        (
            "low_entropy",
            ~F.col("_missing")
            & (F.col("n_words") >= F.lit(cfg.entropy_min_words))
            & (F.col("token_entropy") < F.lit(cfg.min_token_entropy)),
        )
    ]


def _line_shape_flag(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    """Opt-in Gopher line-shape gate (Rae 2021 A1.1.1) — reads the
    bullet/ellipsis/alpha fraction columns with_metrics guarantees when
    any threshold is set (fused into the Arrow scorer, like the
    repetition gates)."""
    if not _line_shape_on(cfg):
        return []
    cond = F.lit(False)
    if cfg.max_bullet_line_frac is not None:
        cond = cond | (F.col("bullet_line_frac") > cfg.max_bullet_line_frac)
    if cfg.max_ellipsis_line_frac is not None:
        cond = cond | (F.col("ellipsis_line_frac") > cfg.max_ellipsis_line_frac)
    if cfg.min_alpha_word_frac is not None:
        cond = cond | (F.col("alpha_word_frac") < cfg.min_alpha_word_frac)
    return [("line_shape", ~F.col("_missing") & cond)]


def _policy_flag(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    """Opt-in C4 doc-level ban gate (lorem ipsum / '{') on scrubbed text."""
    if not cfg.c4_lines:
        return []
    from .operators import c4_filter as _c4

    return [
        ("policy_phrase", ~F.col("_missing") & _c4.doc_ban_col(F.col("scrubbed_text")))
    ]


def _quality_flags(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    """(reason, condition) in priority order, evaluated on survivor rows
    that already carry metric columns. `_missing` here means the SCRUBBED
    text became missing (raw-missing rows never reach this stage)."""
    c = F.col
    return [
        ("missing_text", c("_missing")),
        ("too_short", ~c("_missing") & (c("n_chars") < cfg.min_chars)),
        ("too_long", ~c("_missing") & (c("n_chars") > cfg.max_chars)),
        ("too_few_words", ~c("_missing") & (c("n_words") < cfg.min_words)),
        ("too_many_words", ~c("_missing") & (c("n_words") > cfg.max_words)),
        (
            "mean_word_length",
            ~c("_missing")
            & (
                (c("mean_word_len") < cfg.min_mean_word_len)
                | (c("mean_word_len") > cfg.max_mean_word_len)
            ),
        ),
        ("symbol_ratio", ~c("_missing") & (c("symbol_ratio") > cfg.max_symbol_ratio)),
        (
            "repeated_lines",
            ~c("_missing")
            & (c("n_lines") >= cfg.min_lines_for_ratio)
            & (c("distinct_line_ratio") < cfg.min_distinct_line_ratio),
        ),
        *_repetition_flag(cfg),
        *_line_shape_flag(cfg),
        *_entropy_flag(cfg),
        (
            "boilerplate",
            ~c("_missing") & (c("boilerplate_hits") >= cfg.max_boilerplate_hits),
        ),
        *_policy_flag(cfg),
        (
            "stopword_density",
            ~c("_missing")
            & (c("n_words") > 0)
            & (
                (c("stopword_hits") < cfg.min_stopword_hits)
                | (c("stopword_density") < cfg.min_stopword_density)
            ),
        ),
        (
            "lang",
            ~c("_missing")
            & (
                ~c("lang_pred").isin(*cfg.allowed_langs)
                | (c("lang_conf") < cfg.min_lang_conf)
            ),
        ),
        ("perplexity", ~c("_missing") & (c("ppl") > cfg.max_perplexity)),
    ]


def with_metrics(df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """scrub + metric + score columns; pure projection (no shuffle).

    ONE fused Arrow pass (udfs/scoring.fused_scrub_score_udf): scrub +
    every metric + langid/ppl (and the cfg model seam) — the text crosses
    the JVM<->Python boundary once. Interpreted JVM string/array
    expressions were measured ~5x slower end-to-end on this workload.

    Adds every _METRIC_COLS column, the enabled opt-in gate columns, and
    `_missing` (scrub-level missing)."""
    fused = fused_scrub_score_udf(
        cfg.lang_model_loader,
        cfg.ppl_model_loader,
        repetition=cfg.max_dup_line_char_frac is not None
        or cfg.max_dup_5gram_frac is not None,
        line_shape=_line_shape_on(cfg),
        entropy=cfg.min_token_entropy is not None,
    )
    # the opt-in gate fields are whatever the scorer appended after the
    # always-on ones — the gate-to-field choice lives in udfs/scoring only
    fixed = {"scrubbed_text", *SCORE_SCHEMA.fieldNames()}
    gate_cols = [n for n in fused.returnType.fieldNames() if n not in fixed]
    m = F.col("_score")
    df = df.withColumn("_score", fused(F.col("text")))
    return df.select(
        "*",
        *[m[n].alias(n) for n in gate_cols],
        m["scrubbed_text"].alias("scrubbed_text"),
        m["missing"].alias("_missing"),
        m["n_chars"].alias("n_chars"),
        (
            m["symbol_count"] / F.greatest(m["n_chars"], F.lit(1))
        ).alias("symbol_ratio"),
        m["n_lines"].alias("n_lines"),
        F.when(m["n_lines"] == 0, F.lit(1.0))
        .otherwise(m["distinct_lines"] / m["n_lines"].cast("double"))
        .alias("distinct_line_ratio"),
        m["boilerplate_hits"].alias("boilerplate_hits"),
        m["lang"].alias("lang_pred"),
        m["lang_conf"].alias("lang_conf"),
        m["ppl"].alias("ppl"),
        m["n_words"].alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["stopword_hits"].alias("stopword_hits"),
        (
            m["stopword_hits"] / F.greatest(m["n_words"], F.lit(1))
        ).alias("stopword_density"),
    ).drop("_score")


def _quality_reasons_array(cfg: PipelineConfig) -> Column:
    """array of failing quality-rule names, priority-ordered."""
    flags = _quality_flags(cfg)
    return F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in flags])
    )


def decide_quality(df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Folds quality flags into keep/drop_reason on a metrics frame
    (standalone use: streaming / pre-deduped inputs)."""
    reasons = _quality_reasons_array(cfg)
    return (
        df.withColumn("drop_reason", F.get(reasons, 0))
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("_missing")
    )


def run_pipeline(df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Full pipeline: input (url, warc_ts?, html?, text, lang?) ->
    one labeled row per input row (keep, drop_reason, scrubbed_text +
    metric columns; metrics are NULL for rows dropped pre-model)."""
    keep_cols = [c for c in ("url", "warc_ts", "text", "lang") if c in df.columns]
    base = df.select(*keep_cols)
    # url-dedup key: the canonical form when cfg.normalize_urls (mirrors
    # of one page differing only in case/fragment/tracking params collapse
    # into one window group); the OUTPUT url column is never rewritten
    url_key = (
        T.normalize_url(F.col("url")) if cfg.normalize_urls else F.col("url")
    )
    # the url keep-most-recent window only runs when a timestamp exists
    # (computed here because the salt decision below depends on it)
    url_dedup_active = (
        cfg.dedup_url and "url" in keep_cols and "warc_ts" in keep_cols
    )
    n_salt = cfg.salt_partitions
    if n_salt < 0:  # AUTO: 2x cores — AQE can still coalesce small stages
        n_salt = 2 * df.sparkSession.sparkContext.defaultParallelism
    if n_salt > 0 and (
        url_dedup_active
        or cfg.c4_lines
        or cfg.dedup_paragraphs
        or cfg.dedup_near
        or not cfg.dedup_content
    ):
        # one explicit url repartition: balances hot domains ahead of the
        # pre-window map work (C4/paragraph scrubs), satisfies the url
        # window's distribution, and — when no content window will run —
        # rebalances the input ahead of the scorer. SKIPPED when nothing
        # downstream needs it (no url window, no heavy pre-window
        # compute, content window on): the content window's own exchange
        # rebalances before the scorer stage, so the repartition would be
        # a full shuffle of the text that feeds nothing (guide §2.4 —
        # remove shuffles outright). The near branch keeps it: nothing is
        # pinned there, so the base subtree is evaluated twice (signature
        # pass + final join-back), and this exchange is the stable
        # rebalance point feeding both — measured at 400k near docs,
        # skipping it cost ~12% on the leg while saving nothing.
        # Results are partitioning-independent either way (total window
        # orders).
        base = base.repartition(n_salt, url_key)

    # domain blocklist FIRST (opt-in): known-bad hosts are flagged before
    # any dedup window or model sees them — blocked rows never win a
    # content-dedup window (they are ineligible) and are never scored.
    # Zero-shuffle: the blocklist is a plan-literal suffix check.
    if cfg.blocklist:
        from .operators.url_filter import blocked_domain_col

        base = base.withColumn(
            "_blocked", blocked_domain_col(F.col("url"), cfg.blocklist)
        )
    else:
        base = base.withColumn("_blocked", F.lit(False))

    # soft URL keyword gate right after the hard blocklist (opt-in):
    # weighted banned-word score over the url, plan-literal contains
    # fold — zero shuffle; flagged rows share the blocklist's fate
    # (ineligible for the content window, never scored)
    if cfg.url_keyword_weights:
        from .operators.url_filter import url_keyword_score_col

        base = base.withColumn(
            "_kw_blocked",
            url_keyword_score_col(F.col("url"), cfg.url_keyword_weights)
            >= F.lit(cfg.url_keyword_threshold),
        )
    else:
        base = base.withColumn("_kw_blocked", F.lit(False))

    # C4-style line cleaning FIRST (opt-in, extraction-time semantics):
    # only terminal-punctuation lines with enough words and no ban phrase
    # survive; every later stage (missing check, hashes, models, the
    # paragraph scrub) sees the cleaned text. Zero-shuffle projection.
    if cfg.c4_lines:
        from .operators import c4_filter as _c4

        base = base.withColumn(
            "text",
            _c4.kept_lines_text(F.col("text"), cfg.c4_min_words_per_line),
        )

    # CCNet-style repeated-paragraph scrub FIRST (opt-in): boilerplate
    # lines shared across >= paragraph_min_repeats urls vanish before the
    # missing check, the content-md5 windows and the models — two mirrors
    # differing only in nav-bar text collapse into one content group
    if cfg.dedup_paragraphs:
        from .operators import dedup as _dedup

        base = _dedup.paragraph_scrub(
            base, "text", doc_key="url", min_repeats=cfg.paragraph_min_repeats
        )

    base = base.withColumn("_missing_raw", T.is_missing(F.col("text")))
    # the raw-text md5 is computed ONCE as a column: it keys the content
    # window below AND becomes the output's content_md5 (previously two
    # separate md5 passes over the full text)
    base = base.withColumn(
        "_chash", F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
    )
    chash = F.col("_chash")

    # url keep-most-recent (reference W1, QualityControl.py:1967-1981);
    # total order (warc_ts DESC, md5 ASC, url ASC) -> deterministic under
    # any input order (the url leg matters only under normalize_urls,
    # where distinct raw urls share a window group)
    if url_dedup_active:
        w_url = Window.partitionBy(url_key).orderBy(
            F.col("warc_ts").desc(), chash.asc(), F.col("url").asc()
        )
        base = base.withColumn("_dup_url", F.row_number().over(w_url) > 1)
    else:
        base = base.withColumn("_dup_url", F.lit(False))

    # content keep-one among eligible rows, keyed by raw-text md5
    # (blocked rows are ineligible: a blocked mirror must not win the
    # window and shadow a keepable copy of the same content)
    eligible = (
        ~F.col("_missing_raw")
        & ~F.col("_dup_url")
        & ~F.col("_blocked")
        & ~F.col("_kw_blocked")
    )
    if cfg.dedup_content:
        base = base.withColumn("_eligible", eligible)
        order = [F.col("_eligible").desc(), F.col("url").asc()]
        if "warc_ts" in keep_cols:
            order.append(F.col("warc_ts").asc())
        w_content = Window.partitionBy(chash).orderBy(*order)
        base = base.withColumn(
            "_dup_content", F.col("_eligible") & (F.row_number().over(w_content) > 1)
        )
    else:
        base = base.withColumn("_eligible", eligible).withColumn(
            "_dup_content", F.lit(False)
        )

    base = base.withColumn(
        "_survivor", F.col("_eligible") & ~F.col("_dup_content")
    )

    # near-dup dedup among exact-dedup survivors: MinHash-LSH pairs ->
    # connected components -> keep the canonical (min url) row per
    # cluster. The pair/CC frames hold only near-dup PARTICIPANTS — tiny
    # relative to the corpus — so the left join back is broadcastable by
    # AQE; the corpus itself is never re-shuffled. Nothing is pinned: the
    # pairs branch and the join-back each evaluate the base subtree (one
    # extra source scan beats caching the corpus in executor storage; run
    # near-dedup per lineage bucket to bound the working set).
    if cfg.dedup_near:
        from .operators import dedup as _dedup

        surv = base.filter(F.col("_survivor")).select("url", "text")
        if cfg.near_dup_hash == "md5":
            pairs = _dedup.minhash_jaccard_portable(
                surv, "text", "url", num_hashes=cfg.near_dup_hashes
            )
        else:
            pairs = _dedup.minhash_jaccard(
                surv, "text", "url", num_hashes=cfg.near_dup_hashes
            )
        pairs = pairs.filter(F.col("est_jaccard") >= cfg.near_dup_threshold)
        comp = _dedup.connected_components(pairs)
        noncanon = (
            comp.filter(F.col("id") != F.col("component"))
            .select(F.col("id").alias("url"))
            .withColumn("_nd", F.lit(True))
        )
        base = (
            base.join(noncanon, "url", "left")
            .withColumn("_dup_near", F.coalesce(F.col("_nd"), F.lit(False)))
            .drop("_nd")
            .withColumn("_survivor", F.col("_survivor") & ~F.col("_dup_near"))
        )
    else:
        base = base.withColumn("_dup_near", F.lit(False))

    base = base.withColumn("_orig_text", F.col("text"))

    # model + rules stage: ONE frame (a filter+union here would duplicate
    # the whole dedup subtree — observed as doubled Exchanges in the plan).
    # Dropped rows cross the Arrow boundary as NULL text, which the batch
    # functions short-circuit, so the models still only score survivors.
    masked = base.withColumn("text", F.when(F.col("_survivor"), F.col("text")))
    scored = with_metrics(masked, cfg).withColumn("text", F.col("_orig_text"))

    quality = _quality_reasons_array(cfg)
    labeled = (
        scored.withColumn(
            "drop_reason",
            F.when(F.col("_blocked"), F.lit("blocked_domain"))
            .when(F.col("_kw_blocked"), F.lit("url_keywords"))
            .when(F.col("_missing_raw"), F.lit("missing_text"))
            .when(F.col("_dup_url"), F.lit("dup_url"))
            .when(F.col("_dup_content"), F.lit("dup_content"))
            .when(F.col("_dup_near"), F.lit("dup_near"))
            .otherwise(F.get(quality, 0)),
        )
        .withColumn("keep", F.col("drop_reason").isNull())
    )
    # metric columns are NULL (not garbage zeros) for pre-model drops
    for col, typ in _METRIC_COLS.items():
        labeled = labeled.withColumn(
            col, F.when(F.col("_survivor"), F.col(col)).cast(typ)
        )
    # the labeled output does NOT duplicate the raw text (it lives in the
    # input table; at 100 TB rewriting it doubles the write) — it carries
    # the md5 fingerprint instead, which dedup/lineage key on
    # _chash IS md5(coalesce(_orig_text,'')) — text is untouched between
    # the hash projection and here (only masked into a separate column)
    labeled = labeled.withColumn("content_md5", F.col("_chash"))

    # token-budget cut LAST (opt-in): among kept rows, each budget_by
    # group keeps the deterministic (md5(url), url)-ordered prefix whose
    # token total stays <= token_budget; rows past the line flip to
    # drop_reason='token_budget'. Reuses the scorer's n_words (no second
    # tokenize); the picked-url set joins back small (AQE broadcast).
    # COST NOTE: under a fully lazy plan the sampler's bucket-sums action
    # evaluates the pipeline subtree once more than a budget-less run —
    # measured 3.5x at sf0.1 — so labeled is localCheckpointed first
    # (PLANS.md "Token-budget stage"); the stage is already eager (the
    # sampler's bucket-sum prefix is an action), so pinning adds none.
    if cfg.token_budget is not None:
        from .operators.sampling import sample_to_token_budget

        labeled = labeled.localCheckpoint()
        kept = labeled.filter(F.col("keep"))
        by = cfg.budget_by
        if by is None:
            kept = kept.withColumn("_budget_g", F.lit("all"))
            by = "_budget_g"
        # url is the sampler's row id: unique among kept rows whenever
        # dedup_url is on (the default). distinct() guards the join-back
        # against row multiplication if a caller disables url dedup and
        # feeds duplicate kept urls — same-url rows then share one
        # budget verdict (tiny frame, cheap exchange).
        picked = (
            sample_to_token_budget(
                kept,
                cfg.token_budget,
                text_col="scrubbed_text",
                id_col="url",
                by=by,
                token_expr=F.col("n_words"),
            )
            .select("url")
            .distinct()
            .withColumn("_in_budget", F.lit(True))
        )
        labeled = (
            labeled.join(picked, "url", "left")
            .withColumn(
                "drop_reason",
                F.when(
                    F.col("keep") & F.col("_in_budget").isNull(),
                    F.lit("token_budget"),
                ).otherwise(F.col("drop_reason")),
            )
            .withColumn("keep", F.col("drop_reason").isNull())
            .drop("_in_budget", "_budget_g")
        )

    if cfg.carry_prescrub_text:
        # opt-in column for run_resumable's near-sig stage: the
        # post-c4/post-paragraph pre-model text whose md5 IS content_md5,
        # so lineage can sign it directly instead of re-scrubbing the
        # bucket input (measured 11.6% of a 25k-doc near-dedup bucket
        # pass, 1.03 s of 8.86 s; PLANS.md round 6). Callers MUST drop it
        # before persisting labeled output.
        labeled = labeled.withColumn("_prescrub_text", F.col("_orig_text"))
    return labeled.drop(
        "_missing_raw", "_dup_url", "_dup_content", "_dup_near", "_eligible",
        "_survivor", "_missing", "_orig_text", "text", "_blocked",
        "_kw_blocked", "_chash",
    )


def quality_metrics(labeled: DataFrame, by: list | None = None) -> DataFrame:
    """Per-reason counters — the reference's check() report dicts as a
    DataFrame (one wide partial+final hash agg, SURVEY.md §2.4).

    `by` prepends extra grouping keys (names or Columns) — e.g.
    `by=[domain_of(F.col("url")).alias("domain")]` gives the per-domain
    drop-reason breakdown every web-crawl triage starts from. Still one
    partial+final hash agg; cardinality = |by| x reasons."""
    keys = list(by or []) + [
        F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason")
    ]
    out = labeled.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").alias("chars"),
        F.avg(F.when(F.col("ppl") < 1e8, F.col("ppl"))).alias("avg_ppl"),
    )
    # order by the grouping columns (first len(keys) output columns)
    return out.orderBy(*out.columns[: len(keys)])


def dataset_card(labeled: DataFrame, by: list | None = None) -> DataFrame:
    """Per-group composition card of a labeled corpus — the table a
    dataset release publishes (docs, keep rate, token counts per
    language/source/split). One partial+final hash agg; integer counts
    and ONE exact division only (float sums like avg(ppl) are
    deliberately excluded: their accumulation order varies across
    partitionings, quality_metrics carries them with that caveat).

    `by` defaults to the pipeline's predicted language."""
    keys = [F.col(k) if isinstance(k, str) else k for k in (by or ["lang_pred"])]
    keep_i = F.col("keep").cast("int")
    out = labeled.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum(keep_i).cast("long").alias("kept"),
        F.sum(F.when(F.col("keep"), F.coalesce(F.col("n_words"), F.lit(0))).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_words"),
        F.sum(F.coalesce(F.col("n_words"), F.lit(0))).cast("long").alias("total_words"),
    )
    return out.select(
        "*",
        F.round(F.col("kept") / F.col("docs").cast("double"), 6).alias(
            "keep_rate"
        ),
    )


def adapt_documents(df: DataFrame) -> DataFrame:
    """Adapter: driver `documents` table -> pages schema (FIXTURES.md F2:
    doc_id->url surrogate, source->domain)."""
    return df.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias(
            "url"
        ),
        F.col("text"),
        F.col("lang"),
    )
