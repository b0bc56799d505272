"""Pipeline configuration: every threshold and constant in one place.

The keep/drop rule constants are inherited from the reference where the
reference pins them (cited per field); everything else is chosen for
Common-Crawl-style web text and shared verbatim between the Spark pipeline
and the pure-Python oracle so the two can never drift.

Reference citations use /root/reference/QualityControl.py line numbers.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Whitespace handled identically on the JVM (Java regex is ASCII-\s by
# default) and in Python (whose \s is unicode-aware): we pin an explicit
# ASCII class so both engines split/trim the same bytes.
WS_CHARS = " \t\n\r\x0b\f"
WS_REGEX = r"[ \t\n\r\x0b\f]+"

# Missing-token set — reference QualityControl.py:53-57 (NULL, '', trimmed
# '' and the literal tokens below all count as missing).
MISSING_TOKENS = ("NA", "N/A", "null", "none")

# C4 words-per-line bar — SINGLE source of truth for
# PipelineConfig.c4_min_words_per_line AND operators.c4_filter.
# MIN_WORDS_PER_LINE (which aliases it) AND the driver oracle SQL.
# Deliberately 3, not the paper's 5 — see c4_filter.py for the rationale.
C4_MIN_WORDS_PER_LINE = 3


@dataclass(frozen=True)
class PipelineConfig:
    """Keep/drop thresholds for the web-text quality filter."""

    # document length rules (chars measured on scrubbed text)
    min_chars: int = 100
    max_chars: int = 100_000
    min_words: int = 15
    max_words: int = 50_000

    # Gopher-style word-shape rules
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0

    # symbol-to-char ratio (non-alphanumeric, non-whitespace chars / chars)
    max_symbol_ratio: float = 0.25

    # repeated-line spam: distinct non-empty lines / non-empty lines
    min_distinct_line_ratio: float = 0.5
    # only meaningful for docs with at least this many non-empty lines
    min_lines_for_ratio: int = 3

    # boilerplate: >= this many distinct markers present -> drop
    max_boilerplate_hits: int = 2

    # stopword density (fraction of tokens that are English stopwords)
    min_stopword_density: float = 0.01
    min_stopword_hits: int = 2

    # language id
    allowed_langs: tuple[str, ...] = ("en",)
    min_lang_conf: float = 0.05

    # char-bigram perplexity ceiling (gibberish filter)
    max_perplexity: float = 22.0

    # dedup
    dedup_url: bool = True
    dedup_content: bool = True
    # canonicalize urls (lowercase scheme+host, strip fragment/tracking
    # params/trailing slash) and dedup on the CANONICAL key — trivially
    # different mirrors of one page collapse; the output keeps the
    # original url column untouched
    normalize_urls: bool = False

    # CCNet-style repeated-paragraph scrub BEFORE any other stage: a
    # newline-paragraph appearing in >= paragraph_min_repeats distinct
    # urls (nav bars, cookie banners, footers) is removed from every doc;
    # all downstream stages (missing check, content-md5 dedup, scoring)
    # see the cleaned text. Off by default: adds one (paragraph, url)
    # exchange over the corpus.
    dedup_paragraphs: bool = False
    paragraph_min_repeats: int = 2

    # C4-style line cleaning (Raffel et al. 2020) BEFORE everything else
    # (extraction-time cleanup): only lines ending in terminal punctuation
    # with >= c4_min_words_per_line words and no ban phrase survive; the
    # doc-level 'policy_phrase' gate (lorem ipsum / '{') joins the quality
    # rules. Off by default; zero-shuffle when on.
    c4_lines: bool = False
    c4_min_words_per_line: int = C4_MIN_WORDS_PER_LINE

    # Gopher-style repetition gates (Rae et al. 2021) over the scrubbed
    # text: drop_reason='repetition' when either enabled fraction exceeds
    # its ceiling. None = gate off. Both are computed inside the fused
    # Arrow scorer when on (zero shuffle).
    max_dup_line_char_frac: float | None = None
    max_dup_5gram_frac: float | None = None

    # Gopher line-shape gates (Rae et al. 2021 A1.1.1) over the scrubbed
    # text: drop_reason='line_shape' when any enabled rule fails
    # (bullet-heavy lists, ellipsis teaser pages, symbol soup). None =
    # gate off; the paper's values are 0.9 / 0.3 / 0.8 (constants in
    # operators/repetition.py). Computed inside the fused Arrow scorer
    # when on, like the repetition gates.
    max_bullet_line_frac: float | None = None
    max_ellipsis_line_frac: float | None = None
    min_alpha_word_frac: float | None = None

    # token-entropy floor over the scrubbed text: drop_reason='low_entropy'
    # when the token-distribution Shannon entropy H = ln(n) - sum(c ln c)/n
    # falls below the floor — catches small-vocabulary spam (keyword
    # stuffing, log dumps, template loops) that the verbatim-repetition
    # gates miss. Only docs with >= entropy_min_words tokens are judged
    # (short docs sit near ln(n) trivially and are min_words territory).
    # None = gate off. Measured on the synthetic corpus: natural docs with
    # >= 20 tokens span H 2.44-3.35 (median 3.11), so 2.2 separates
    # cleanly. Computed inside the fused Arrow scorer when on (the
    # distinct-within-array JVM HOF form is the measured interpreted-
    # expression tax the repetition gates documented).
    min_token_entropy: float | None = None
    entropy_min_words: int = 20

    # domain blocklist — the FIRST gate of a crawl pipeline (known-bad
    # hosts are dropped before paying for dedup windows or model scoring;
    # drop_reason='blocked_domain'). Entries are bare lowercase domains;
    # a url whose host equals an entry OR is a subdomain of one is
    # blocked. The tuple is inlined as a plan literal (arrays_overlap
    # over the host's dot-suffix set — zero shuffle, zero join); for
    # 10^5+-entry lists use operators.url_filter.filter_blocked_domains
    # directly with a broadcast DataFrame before run_pipeline.
    blocklist: tuple[str, ...] | None = None

    # RefinedWeb-style soft URL keyword gate (Penedo et al. 2023 §G.1),
    # the companion to the hard domain blocklist: weighted banned words
    # matched as substrings anywhere in the url; block when the weight
    # sum reaches url_keyword_threshold (one strict 1.0-weight word, or
    # several soft ones). None = gate off. Like the blocklist it is a
    # plan-literal zero-shuffle projection, runs BEFORE any content
    # stage, and flagged rows are ineligible for the content window and
    # never scored (drop_reason='url_keywords', right after
    # 'blocked_domain'). Config lexica are small by construction;
    # 10^5+-entry UT1 lists belong in a broadcast-join form.
    url_keyword_weights: tuple[tuple[str, float], ...] | None = None
    url_keyword_threshold: float = 1.0

    # deterministic per-group token budget applied AFTER the quality
    # decision (the curriculum/mixture step): among keep=true rows, each
    # budget_by group keeps the deterministic (md5(url), url)-ordered
    # prefix whose scrubbed-text token total stays <= token_budget; rows
    # past the line flip to keep=false, drop_reason='token_budget'.
    # Token counts reuse the scorer's n_words metric (no re-tokenize).
    # budget_by=None pools the whole corpus into one budget group.
    # The labeled frame is localCheckpointed for the budget stage: the
    # sampler's bucket-sums pass would otherwise re-run the scorer subtree
    # (measured 3.5x at sf0.1 — PLANS.md "Token-budget stage").
    token_budget: int | None = None
    budget_by: str | None = "lang"

    # near-duplicate dedup (MinHash-LSH pairs -> connected components ->
    # keep the canonical min-url row per cluster, drop_reason='dup_near').
    # Off by default: it adds two shuffled joins + an iterative CC stage.
    dedup_near: bool = False
    near_dup_threshold: float = 0.8
    near_dup_hashes: int = 32

    # scale mechanics.
    # salt_partitions: the ONE explicit url repartition that both levels
    # hot-domain skew and feeds the dedup windows with no further
    # exchange. -1 = AUTO (DEFAULT): derive 2x defaultParallelism at plan
    # time — on the local[32] bench machine that is the bench-proven 64;
    # on a 1000-executor cluster it scales with the cores. 0 = disable
    # (leave partitioning to AQE). >0 = explicit pin.
    salt_partitions: int = -1

    # REAL model seam (udfs/scoring.scoring_udf): zero-arg picklable
    # loaders executed once per python worker. lang_model_loader returns a
    # fastText-shaped object (.predict(text) -> (labels, probs));
    # ppl_model_loader a KenLM-shaped one (.perplexity(text) -> float).
    # None (default) = the embedded deterministic stand-ins. Loaders are
    # excluded from equality/hash so configs stay comparable.
    lang_model_loader: object | None = field(
        default=None, compare=False, hash=False
    )
    ppl_model_loader: object | None = field(
        default=None, compare=False, hash=False
    )


# Priority order of drop reasons: the first failing rule names the reason.
# Dedup-first ordering (CCNet-style): structural degenerate rows and
# duplicates are eliminated BEFORE the model stage, so the expensive
# langid/perplexity UDFs only ever score unique, present documents —
# at 10^12 docs this is the difference between scoring the corpus once
# and scoring every mirror of it.
DROP_REASON_ORDER: tuple[str, ...] = (
    "blocked_domain",  # opt-in blocklist gate (cfg.blocklist) — FIRST
    "url_keywords",  # opt-in soft URL keyword gate (cfg.url_keyword_weights)
    "missing_text",
    "dup_url",
    "dup_content",
    "dup_near",
    "too_short",
    "too_long",
    "too_few_words",
    "too_many_words",
    "mean_word_length",
    "symbol_ratio",
    "repeated_lines",
    "repetition",  # opt-in Gopher gate (max_dup_line_char_frac/5gram)
    "line_shape",  # opt-in Gopher line-shape gate (bullet/ellipsis/alpha)
    "low_entropy",  # opt-in token-entropy floor (cfg.min_token_entropy)
    "boilerplate",
    "policy_phrase",  # opt-in C4 doc gate (cfg.c4_lines)
    "stopword_density",
    "lang",
    "perplexity",
    "token_budget",  # opt-in post-decision budget cut (cfg.token_budget)
)

DEFAULT_CONFIG = PipelineConfig()
