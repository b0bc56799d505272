"""The web-text quality pipeline, dedup-first (CCNet-style ordering):

    ingest (project html away) -> salt repartition by url ->
    missing flag -> url keep-most-recent -> content keep-one (raw-text md5;
    hashes earlier resumable buckets claimed count as an earlier copy)
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

import functools
from collections.abc import Callable
from dataclasses import dataclass

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
    dup_5gram_frac columns the fused scorer emits when either threshold
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
    bullet/ellipsis/alpha fraction columns the fused scorer emits when
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


def _quality_reasons_array(cfg: PipelineConfig) -> Column:
    """array of failing quality-rule names, priority-ordered."""
    flags = _quality_flags(cfg)
    return F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in flags])
    )


def _cache_key(df: DataFrame, cfg: PipelineConfig) -> tuple:
    """(SparkContext, config, model-loader ids) — the key of the per-config
    Column caches below. Each Column costs py4j round trips to build
    (~6 more per call for PySpark's call-site capture), so a plan rebuilt
    per call paid ~3k of them; keyed on the SparkContext, a new context
    never reuses a UDF registered with another. The loaders are excluded
    from PipelineConfig equality, so their ids join the key; they stay
    unique while the cached key holds the config that owns them."""
    return (
        df.sparkSession.sparkContext,
        cfg,
        (id(cfg.lang_model_loader), id(cfg.ppl_model_loader)),
    )


@dataclass(frozen=True)
class _Scorer:
    """The fused scorer and the quality rules over its output."""

    udf: Callable[[Column], Column]
    # metric columns read off the `_score` struct, in output order: the
    # enabled opt-in gate fields first, then scrubbed_text, `_missing`
    # (scrub-level missing) and every _METRIC_COLS column
    metrics: dict[str, Column]
    gates: tuple[str, ...]
    quality: Column  # first failing quality rule, NULL when none


@functools.lru_cache(maxsize=16)
def _scorer(sc, cfg: PipelineConfig, loader_ids: tuple) -> _Scorer:
    """ONE fused Arrow pass (udfs/scoring.fused_scrub_score_udf): scrub +
    every metric + langid/ppl (and the cfg model seam) — the text crosses
    the JVM<->Python boundary once. Interpreted JVM string/array
    expressions were measured ~5x slower end-to-end on this workload."""
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
    gates = tuple(n for n in fused.returnType.fieldNames() if n not in fixed)
    m = F.col("_score")
    metrics = {n: m[n] for n in gates} | {
        "scrubbed_text": m["scrubbed_text"],
        "_missing": m["missing"],
        "n_chars": m["n_chars"],
        "symbol_ratio": m["symbol_count"] / F.greatest(m["n_chars"], F.lit(1)),
        "n_lines": m["n_lines"],
        "distinct_line_ratio": F.when(m["n_lines"] == 0, F.lit(1.0)).otherwise(
            m["distinct_lines"] / m["n_lines"].cast("double")
        ),
        "boilerplate_hits": m["boilerplate_hits"],
        "lang_pred": m["lang"],
        "lang_conf": m["lang_conf"],
        "ppl": m["ppl"],
        "n_words": m["n_words"],
        "mean_word_len": m["mean_word_len"],
        "stopword_hits": m["stopword_hits"],
        "stopword_density": m["stopword_hits"]
        / F.greatest(m["n_words"], F.lit(1)),
    }
    return _Scorer(
        udf=fused,
        metrics=metrics,
        gates=gates,
        quality=F.get(_quality_reasons_array(cfg), 0),
    )


@dataclass(frozen=True)
class _Plan:
    """run_pipeline's Columns for one (SparkContext, config, input
    columns, prior-hash flag). Each dict is one withColumns; a stage
    boundary sits wherever a column reads the previous stage's output."""

    url_key: Column
    salt: bool
    gates: dict[str, Column]
    hashes: dict[str, Column]
    dup_url: dict[str, Column]
    prior: dict[str, Column]
    eligible: dict[str, Column]
    dup_content: dict[str, Column]
    survivor: dict[str, Column]
    near: dict[str, Column]
    score: dict[str, Column]
    scorer: _Scorer
    decide: dict[str, Column]
    out: tuple[Column, ...]


@functools.lru_cache(maxsize=16)
def _plan(
    sc,
    cfg: PipelineConfig,
    loader_ids: tuple,
    keep: tuple[str, ...],
    has_prior: bool,
) -> _Plan:
    c = F.col
    scorer = _scorer(sc, cfg, loader_ids)
    # url-dedup key: the canonical form when cfg.normalize_urls (mirrors
    # of one page differing only in case/fragment/tracking params collapse
    # into one window group); the OUTPUT url column is never rewritten
    url_key = T.normalize_url(c("url")) if cfg.normalize_urls else c("url")
    # the url keep-most-recent window only runs when a timestamp exists
    url_dedup = cfg.dedup_url and "url" in keep and "warc_ts" in keep

    # map-side gates FIRST, zero shuffle: the domain blocklist (a
    # plan-literal suffix check) and the soft URL keyword score flag rows
    # before any dedup window or model sees them — flagged rows never win
    # a content window (they are ineligible) and are never scored; C4
    # line cleaning (extraction-time semantics) rewrites the text that
    # every later stage sees
    gates: dict[str, Column] = {}
    if cfg.blocklist:
        from .operators.url_filter import blocked_domain_col

        gates["_blocked"] = blocked_domain_col(c("url"), cfg.blocklist)
    if cfg.url_keyword_weights:
        from .operators.url_filter import url_keyword_score_col

        gates["_kw_blocked"] = url_keyword_score_col(
            c("url"), cfg.url_keyword_weights
        ) >= F.lit(cfg.url_keyword_threshold)
    if cfg.c4_lines:
        from .operators import c4_filter as _c4

        gates["text"] = _c4.kept_lines_text(c("text"), cfg.c4_min_words_per_line)

    # the raw-text md5 is computed ONCE: it keys the content window AND
    # becomes the output's content_md5
    hashes = {
        "_missing_raw": T.is_missing(c("text")),
        "_chash": F.md5(F.encode(F.coalesce(c("text"), F.lit("")), "UTF-8")),
    }
    chash = c("_chash")
    # pre-model drop flags, (reason, column), in DROP_REASON_ORDER
    flags = [
        (reason, flag)
        for reason, flag in (
            ("blocked_domain", "_blocked"),
            ("url_keywords", "_kw_blocked"),
        )
        if flag in gates
    ]
    flags.append(("missing_text", "_missing_raw"))

    # url keep-most-recent (reference W1, QualityControl.py:1967-1981);
    # total order (warc_ts DESC, md5 ASC, url ASC) -> deterministic under
    # any input order (the url leg matters only under normalize_urls,
    # where distinct raw urls share a window group)
    dup_url: dict[str, Column] = {}
    if url_dedup:
        w_url = Window.partitionBy(url_key).orderBy(
            c("warc_ts").desc(), chash.asc(), c("url").asc()
        )
        dup_url["_dup_url"] = F.row_number().over(w_url) > 1
        flags.append(("dup_url", "_dup_url"))

    # content keep-one among eligible rows, keyed by raw-text md5
    # (blocked rows are ineligible: a blocked mirror must not win the
    # window and shadow a keepable copy of the same content); a hash that
    # `prior_hashes` holds marks every eligible copy
    eligible = ~c("_missing_raw")
    for flag in ("_dup_url", "_blocked", "_kw_blocked"):
        if flag in dup_url or flag in gates:
            eligible = eligible & ~c(flag)
    dup_content: dict[str, Column] = {}
    survivor = c("_eligible")
    if cfg.dedup_content:
        order = [c("_eligible").desc(), c("url").asc()]
        if "warc_ts" in keep:
            order.append(c("warc_ts").asc())
        later = F.row_number().over(Window.partitionBy(chash).orderBy(*order)) > 1
        if has_prior:
            later = c("_prior").isNotNull() | later
        dup_content["_dup_content"] = c("_eligible") & later
        survivor = survivor & ~c("_dup_content")
        flags.append(("dup_content", "_dup_content"))

    near: dict[str, Column] = {}
    if cfg.dedup_near:
        near = {
            "_dup_near": c("_nd").isNotNull(),
            "_survivor": c("_survivor") & c("_nd").isNull(),
        }
        flags.append(("dup_near", "_dup_near"))

    decide = F.when(c(flags[0][1]), F.lit(flags[0][0]))
    for reason, flag in flags[1:]:
        decide = decide.when(c(flag), F.lit(reason))

    # metric columns are NULL (not garbage zeros) for pre-model drops.
    # The labeled output does NOT duplicate the raw text (it lives in the
    # input table; at 100 TB rewriting it doubles the write) — it carries
    # the md5 fingerprint instead, which dedup/lineage key on
    out = [c(k) for k in keep if k != "text"] + [c(g) for g in scorer.gates]
    out += [
        F.when(c("_survivor"), c(n)).cast(_METRIC_COLS[n]).alias(n)
        for n in scorer.metrics
        if n in _METRIC_COLS
    ]
    out += [c("drop_reason"), c("drop_reason").isNull().alias("keep")]
    out.append(chash.alias("content_md5"))
    if cfg.carry_prescrub_text:
        # opt-in column for run_resumable's near-sig stage: the
        # post-c4/post-paragraph pre-model text whose md5 IS content_md5,
        # so lineage can sign it directly instead of re-scrubbing the
        # bucket input (measured 11.6% of a 25k-doc near-dedup bucket
        # pass, 1.03 s of 8.86 s; PLANS.md round 6). Callers MUST drop it
        # before persisting labeled output.
        out.append(c("text").alias("_prescrub_text"))

    return _Plan(
        url_key=url_key,
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
        salt=url_dedup
        or cfg.c4_lines
        or cfg.dedup_paragraphs
        or cfg.dedup_near
        or not cfg.dedup_content,
        gates=gates,
        hashes=hashes,
        dup_url=dup_url,
        prior={"_prior": F.lit(True)},
        eligible={"_eligible": eligible},
        dup_content=dup_content,
        survivor={"_survivor": survivor},
        near=near,
        # model + rules stage: ONE frame (a filter+union here would
        # duplicate the whole dedup subtree). Dropped rows cross the Arrow
        # boundary as NULL text, which the batch functions short-circuit,
        # so the models still only score survivors.
        score={"_score": scorer.udf(F.when(c("_survivor"), c("text")))},
        scorer=scorer,
        decide={"drop_reason": decide.otherwise(scorer.quality)},
        out=tuple(out),
    )


def _near_dup_urls(base: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Non-canonical members of near-dup clusters among exact-dedup
    survivors, as (url, _nd=True): MinHash-LSH pairs -> connected
    components -> every url but the component's canonical (min url) one.

    This stage is eager; building the plan runs Spark jobs:
    - the signature checkpoint runs the base subtree's shuffle stages
      when it is called (AQE);
    - connected_components collects the pair list as Arrow in ONE action
      and labels it on the driver when it has at most contract_cap rows
      (per-bucket near-dedup lands there); a bigger pair list takes its
      distributed contract/loop path instead.
    The (url, component) frame holds only near-dup PARTICIPANTS — tiny
    relative to the corpus — so the left join back is broadcastable by
    AQE; the corpus itself is never re-shuffled. The join-back evaluates
    the base subtree once more (one extra source scan beats caching the
    corpus in executor storage; run near-dedup per lineage bucket to
    bound the working set)."""
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
    return comp.filter("id != component").selectExpr("id AS url", "true AS _nd")


def _token_budget(labeled: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Token-budget cut LAST (opt-in): among kept rows, each budget_by
    group keeps the deterministic (md5(url), url)-ordered prefix whose
    token total stays <= token_budget; rows past the line flip to
    drop_reason='token_budget'. Reuses the scorer's n_words (no second
    tokenize); the picked-url set joins back small (AQE broadcast).
    COST NOTE: under a fully lazy plan the sampler's bucket-sums action
    evaluates the pipeline subtree once more than a budget-less run —
    measured 3.5x at sf0.1 — so labeled is localCheckpointed first
    (PLANS.md "Token-budget stage"); the stage is already eager (the
    sampler's bucket-sum prefix is an action), so pinning adds none."""
    from .operators.sampling import sample_to_token_budget

    labeled = labeled.localCheckpoint()
    kept = labeled.filter(F.col("keep"))
    by = cfg.budget_by
    if by is None:
        kept = kept.withColumn("_budget_g", F.lit("all"))
        by = "_budget_g"
    # url is the sampler's row id: unique among kept rows whenever
    # dedup_url is on (the default). distinct() guards the join-back
    # against row multiplication if a caller disables url dedup and feeds
    # duplicate kept urls — same-url rows then share one budget verdict
    # (tiny frame, cheap exchange).
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
    return (
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


def run_pipeline(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    prior_hashes: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: input (url, warc_ts?, html?, text, lang?) ->
    one labeled row per input row (keep, drop_reason, scrubbed_text +
    metric columns; metrics are NULL for rows dropped pre-model).

    The plan is one select/withColumns per stage over Columns cached per
    config (see _cache_key), so a warm build is a few hundred py4j round
    trips instead of ~3k.

    `prior_hashes` (run_resumable's cross-bucket dedup): a one-column
    frame of content hashes already claimed by earlier output. Every
    eligible row whose content_md5 it holds drops as dup_content ahead of
    the scorer, exactly like a later copy inside the content window."""
    if prior_hashes is not None and not cfg.dedup_content:
        raise ValueError("prior_hashes needs cfg.dedup_content")
    sc = df.sparkSession.sparkContext
    keep = tuple(c for c in ("url", "warc_ts", "text", "lang") if c in df.columns)
    p = _plan(*_cache_key(df, cfg), keep, prior_hashes is not None)
    base = df.select(*keep)
    n_salt = cfg.salt_partitions
    if n_salt < 0:  # AUTO: 2x cores — AQE can still coalesce small stages
        n_salt = 2 * sc.defaultParallelism
    if n_salt > 0 and p.salt:
        base = base.repartition(n_salt, p.url_key)
    if p.gates:
        base = base.withColumns(p.gates)
    # CCNet-style repeated-paragraph scrub FIRST (opt-in): boilerplate
    # lines shared across >= paragraph_min_repeats urls vanish before the
    # missing check, the content-md5 windows and the models — two mirrors
    # differing only in nav-bar text collapse into one content group
    if cfg.dedup_paragraphs:
        from .operators import dedup as _dedup

        base = _dedup.paragraph_scrub(
            base, "text", doc_key="url", min_repeats=cfg.paragraph_min_repeats
        )
    base = base.withColumns(p.hashes)
    if p.dup_url:
        base = base.withColumns(p.dup_url)
    if prior_hashes is not None:
        # plain equi-join on the hash key: AQE broadcasts a small prior
        # set on its own, and a shuffled join on _chash already satisfies
        # the content window's distribution
        prior = prior_hashes.toDF("_chash").distinct().withColumns(p.prior)
        base = base.join(prior, "_chash", "left")
    base = base.withColumns(p.eligible)
    if p.dup_content:
        base = base.withColumns(p.dup_content)
    base = base.withColumns(p.survivor)
    if cfg.dedup_near:
        base = base.join(_near_dup_urls(base, cfg), "url", "left").withColumns(
            p.near
        )
    labeled = (
        base.withColumns(p.score)
        .withColumns(p.scorer.metrics)
        .withColumns(p.decide)
        .select(*p.out)
    )
    if cfg.token_budget is not None:
        labeled = _token_budget(labeled, cfg)
    return labeled


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
