"""URL/domain-level filtering — the first gate of a crawl pipeline
(blocklist the known-bad domains before paying to score their pages).
No reference analog (QualityControl.py has no URL ops); task-brief
training-data operator family, same family as UT1/adult-domain
blocklists in public crawl pipelines.

100 TB shape: blocklists are small (10^5-10^7 domains) next to the
corpus — the list BROADCASTS and the filter is a map-side hash anti-join
on the extracted registered domain; the corpus never shuffles. Matching
is on the exact domain or any parent suffix (ads.example.com matches a
blocklist entry example.com), computed by exploding each url's O(label
count) suffix set — constant per row, no cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import domain_of


def _host_of(url):
    """Registered host of a url: the authority with userinfo and port
    stripped — 'https://user@ads.example.com:8080/x' -> 'ads.example.com'.
    Matching on the raw authority would let ':8080'/'user@' variants of a
    blocked domain sail through the blocklist."""
    auth = domain_of(url)  # scheme://AUTHORITY/... (lowercased)
    return F.regexp_replace(
        F.regexp_replace(auth, "^[^/@]*@", ""), ":[0-9]+$", ""
    )


def _suffixes(domain):
    """Array of dot-suffixes of a domain: a.b.c -> [a.b.c, b.c, c]."""
    parts = F.split(domain, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."),
    )


def blocked_domain_col(url, blocked: list[str] | tuple[str, ...]):
    """Boolean column: url's host equals a blocklist entry or is a
    subdomain of one — the blocklist INLINED as a plan literal array, so
    the check is a zero-shuffle, zero-join, whole-stage-codegen'd
    projection (arrays_overlap over the host's O(label-count) dot-suffix
    set). This is run_pipeline's cfg.blocklist path: config blocklists
    are small by construction; 10^5+-entry lists belong in
    filter_blocked_domains' broadcast-join form instead."""
    bl = F.array(*[F.lit(d.lower()) for d in blocked])
    # NULL url => NULL host/suffixes => arrays_overlap NULL; coalesce to
    # False so the flag matches url_keyword_score_col's NULL contract —
    # a NULL here would poison run_pipeline's eligible/survivor booleans
    # and silently exclude the row from every downstream gate
    return F.coalesce(
        F.arrays_overlap(_suffixes(_host_of(url)), bl), F.lit(False)
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked: DataFrame | list[str],
    url_col: str = "url",
    label_only: bool = False,
) -> DataFrame:
    """Drop (or, with label_only=True, flag with a `blocked_domain`
    boolean) every row whose url's domain equals a blocklist entry or is
    a subdomain of one. Blocklist entries are bare domains, matched
    case-insensitively.

    `blocked` may be a small python list (inlined as a broadcast-side
    frame) or a DataFrame with a `domain` column (the 10^7-entry case —
    still broadcast: tens of MB of strings)."""
    spark = df.sparkSession
    if not isinstance(blocked, DataFrame):
        blocked = spark.createDataFrame(
            [(d,) for d in blocked], "domain string"
        )
    bl = F.broadcast(
        blocked.select(F.lower(F.col("domain")).alias("_bl_dom")).distinct()
    )
    # per-URL verdict (rows sharing a url share a domain, so url-level
    # matching is exact): explode each url's O(label-count) suffix set,
    # map-side semi-join against the broadcast blocklist, then join the
    # verdict back by url. `hits` is NOT broadcast — in the pathological
    # case it is every blocked url; AQE picks broadcast when it is small.
    sfx = df.select(url_col).distinct().withColumn(
        "_sfx", F.explode(_suffixes(_host_of(F.col(url_col))))
    )
    hits = (
        sfx.join(bl, sfx["_sfx"] == bl["_bl_dom"], "left_semi")
        .select(url_col)
        .distinct()
    )
    if label_only:
        flagged = hits.withColumn("blocked_domain", F.lit(True))
        return df.join(flagged, url_col, "left").withColumn(
            "blocked_domain", F.coalesce("blocked_domain", F.lit(False))
        )
    return df.join(hits, url_col, "left_anti")


def domain_reputation(
    labeled: DataFrame,
    url_col: str = "url",
    keep_col: str = "keep",
) -> DataFrame:
    """Per-domain keep-rate table from a labeled frame — the
    domain-prior step of an iterative crawl pipeline (FineWeb/Dolma
    style: domains whose pages overwhelmingly fail doc-level quality are
    spam farms; their remaining pages inherit the prior). Returns
    (domain, docs, kept, keep_rate). One partial-aggregated groupBy on
    the extracted host — at 10^7 domains the result is still tiny next
    to the corpus."""
    return (
        labeled.groupBy(_host_of(F.col(url_col)).alias("domain"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.col(keep_col).cast("int")).cast("long").alias("kept"),
        )
        .withColumn(
            "keep_rate",
            F.round(F.col("kept") / F.col("docs").cast("double"), 6),
        )
    )


def flag_low_reputation_domains(
    labeled: DataFrame,
    min_keep_rate: float = 0.3,
    min_docs: int = 5,
    url_col: str = "url",
    keep_col: str = "keep",
) -> DataFrame:
    """Add `low_rep_domain`: True when the row's domain has >= min_docs
    labeled pages and a keep rate < min_keep_rate (small domains carry
    no evidence and are never flagged). The flagged-domain set is tiny
    and broadcast back; the corpus never shuffles on the match."""
    bad = (
        domain_reputation(labeled, url_col, keep_col)
        .filter(
            (F.col("docs") >= min_docs)
            & (F.col("keep_rate") < min_keep_rate)
        )
        .select("domain")
        .withColumn("_low", F.lit(True))
    )
    return (
        labeled.withColumn("_dom", _host_of(F.col(url_col)))
        .join(F.broadcast(bad), F.col("_dom") == F.col("domain"), "left")
        .withColumn("low_rep_domain", F.coalesce(F.col("_low"), F.lit(False)))
        .drop("_dom", "domain", "_low")
    )


# ---------------------------------------------------------------------------
# URL keyword scoring (RefinedWeb §G.1 "URL filtering", Penedo et al.
# 2023): beyond the hard domain blocklist, a SOFT score over weighted
# banned words appearing anywhere in the url — one strict word is enough
# to block, softer words must co-occur. No reference analog; public
# crawl-pipeline family (UT1-style category lexica).
# ---------------------------------------------------------------------------

# neutral demo lexicon (gambling/pharma-spam shaped): strict words weight
# 1.0, soft words 0.5 — block at score >= 1.0 (one strict hit, or two
# soft). Production pipelines swap in their full UT1-derived list.
URL_KEYWORD_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("casino", 1.0),
    ("freebet", 1.0),
    ("viagra", 1.0),
    ("betting", 0.5),
    ("poker", 0.5),
    ("pills", 0.5),
    ("adult", 0.5),
)


def url_keyword_score_col(
    url, weights: tuple[tuple[str, float], ...] = URL_KEYWORD_WEIGHTS
):
    """Double column: sum of weights of lexicon words contained (plain
    substring, case-insensitive) in the url. Plan-literal contains-fold —
    zero shuffle, zero join, whole-stage codegen; O(|lexicon|) contains
    ops per row, which is the right trade for config-sized lexica
    (10^5+-entry UT1 lists belong in a broadcast-join or Aho-Corasick
    Arrow pass instead — same note as blocked_domain_col). NULL url
    scores 0.0."""
    lu = F.lower(url)
    score = F.lit(0.0)
    for w, wt in weights:
        score = score + F.when(lu.contains(w.lower()), F.lit(float(wt))).otherwise(
            F.lit(0.0)
        )
    return F.coalesce(score, F.lit(0.0))
