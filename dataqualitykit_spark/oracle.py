"""Slow, obviously-correct single-process oracle for the full pipeline.

Mirrors pipeline.run_pipeline's dedup-first ordering exactly:

1. missing_text on the raw text (reference missing-token set)
2. url keep-most-recent (order: warc_ts DESC, md5(raw) ASC)
3. content keep-one on md5(raw text) among eligible rows
   (order: url ASC, warc_ts ASC)
4. survivors only: scrub -> quality rules (semantics.doc_reasons)

scrubbed_text is produced ONLY for survivors (the pipeline never scrubs
rows it has already dropped — at 10^12 docs you do not run models on
mirrors); dropped rows carry scrubbed_text=None.

The golden-fixture tests compare the Spark pipeline against this
row-for-row: keep/drop F1 (target 1.0), exact drop_reason, and byte-equal
scrubbed text for every survivor (BASELINE.json correctness gates).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from .config import DEFAULT_CONFIG, PipelineConfig
from .semantics import (
    content_hash,
    doc_reasons,
    is_missing,
    minhash_candidate_pairs_xxh64,
    normalize_url,
)

_EPOCH = datetime(1970, 1, 1)


@dataclass
class OracleRow:
    url: str
    warc_ts: datetime | None
    text: str | None
    scrubbed_text: str | None = None
    reasons: list[str] = field(default_factory=list)
    keep: bool = False
    drop_reason: str | None = None


def run_oracle(
    rows: list[dict[str, Any]], cfg: PipelineConfig = DEFAULT_CONFIG
) -> list[OracleRow]:
    out = [
        OracleRow(url=r["url"], warc_ts=r.get("warc_ts"), text=r.get("text"))
        for r in rows
    ]

    # -1. C4 line cleaning FIRST (mirrors pipeline cfg.c4_lines): only
    #     terminal-punctuation lines with enough words and no ban phrase
    #     survive; everything downstream sees the cleaned text
    if cfg.c4_lines:
        from .semantics import c4_clean_text

        for r in out:
            r.text = c4_clean_text(r.text, cfg.c4_min_words_per_line)

    # 0. repeated-paragraph scrub FIRST (mirrors pipeline cfg.dedup_paragraphs):
    #    a non-blank line appearing in >= paragraph_min_repeats distinct urls
    #    is removed from every doc before missing/dedup/scoring see the text
    if cfg.dedup_paragraphs:
        seen_in: dict[str, set[str]] = {}
        for r in out:
            if r.text is None:
                continue
            for para in set(r.text.split("\n")):
                # strip(' ') not strip(): Spark's F.trim removes SPACES
                # only — a tab-only line must classify identically
                if para.strip(" "):
                    seen_in.setdefault(para, set()).add(r.url)
        bad = {p for p, urls in seen_in.items() if len(urls) >= cfg.paragraph_min_repeats}
        for r in out:
            if r.text is not None:
                r.text = "\n".join(
                    p for p in r.text.split("\n") if p not in bad
                )

    missing = [is_missing(r.text) for r in out]
    chash = [content_hash(r.text or "") for r in out]

    # blocklist FIRST gate (mirrors pipeline cfg.blocklist): host = the
    # url authority, lowercased, userinfo/port stripped; blocked when any
    # dot-suffix of the host equals a blocklist entry. Blocked rows are
    # ineligible for the content window and the near-dup pass below.
    blocked = [False] * len(out)
    if cfg.blocklist:
        import re as _re

        from .semantics import URL_DOMAIN_REGEX

        entries = {e.lower() for e in cfg.blocklist}
        for i, r in enumerate(out):
            m = _re.match(URL_DOMAIN_REGEX, r.url or "")
            host = (m.group(1) if m else "").lower()
            host = _re.sub(r"^[^/@]*@", "", host)
            host = _re.sub(r":[0-9]+$", "", host)
            labels = host.split(".")
            sfx = {".".join(labels[j:]) for j in range(len(labels))}
            blocked[i] = bool(entries & sfx)

    # soft URL keyword gate right after the blocklist (mirrors
    # cfg.url_keyword_weights): weighted banned-word substring score over
    # the url; flagged rows share the blocklist's fate below
    kw_blocked = [False] * len(out)
    if cfg.url_keyword_weights:
        from .semantics import url_keyword_score

        kw_blocked = [
            url_keyword_score(r.url, cfg.url_keyword_weights)
            >= cfg.url_keyword_threshold
            for r in out
        ]

    # url keep-most-recent — gate on KEY PRESENCE (schema), exactly like
    # the pipeline gates on column presence; an all-NULL warc_ts column
    # must still dedup (NULLs order last, matching Spark desc NULLS LAST)
    dup_url = [False] * len(out)
    has_ts_column = any("warc_ts" in r for r in rows)
    if cfg.dedup_url and has_ts_column:
        by_url: dict[str, list[int]] = {}
        for i, r in enumerate(out):
            key = normalize_url(r.url) if cfg.normalize_urls else r.url
            by_url.setdefault(key, []).append(i)
        for idxs in by_url.values():
            if len(idxs) > 1:
                idxs.sort(
                    key=lambda i: (
                        -(out[i].warc_ts or _EPOCH).timestamp(),
                        chash[i],
                        out[i].url,
                    )
                )
                for i in idxs[1:]:
                    dup_url[i] = True

    # content keep-one among eligible
    dup_content = [False] * len(out)
    if cfg.dedup_content:
        eligible = [
            i
            for i in range(len(out))
            if not missing[i]
            and not dup_url[i]
            and not blocked[i]
            and not kw_blocked[i]
        ]
        eligible.sort(key=lambda i: (out[i].url, (out[i].warc_ts or _EPOCH)))
        seen: set[str] = set()
        for i in eligible:
            if chash[i] in seen:
                dup_content[i] = True
            else:
                seen.add(chash[i])

    # near-dup dedup among survivors: MinHash-LSH pairs over the same
    # xxhash64 family the pipeline runs (semantics.minhash_*_xxh64) ->
    # union-find -> drop all but the min-url row per cluster
    dup_near = [False] * len(out)
    if cfg.dedup_near:
        surv = [
            i
            for i in range(len(out))
            if not missing[i]
            and not dup_url[i]
            and not blocked[i]
            and not kw_blocked[i]
            and not dup_content[i]
        ]
        by_url = {out[i].url: i for i in surv}
        pairs = [
            (a, b)
            for a, b, est in minhash_candidate_pairs_xxh64(
                {out[i].url: out[i].text for i in surv},
                num_hashes=cfg.near_dup_hashes,
            )
            if est >= cfg.near_dup_threshold
        ]
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min — root is always the smaller url
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        for url in parent:
            if find(url) != url:
                dup_near[by_url[url]] = True

    for i, r in enumerate(out):
        if blocked[i]:
            r.reasons = ["blocked_domain"]
        elif kw_blocked[i]:
            r.reasons = ["url_keywords"]
        elif missing[i]:
            r.reasons = ["missing_text"]
        elif dup_url[i]:
            r.reasons = ["dup_url"]
        elif dup_content[i]:
            r.reasons = ["dup_content"]
        elif dup_near[i]:
            r.reasons = ["dup_near"]
        else:
            reasons, scrubbed = doc_reasons(r.text, cfg)
            r.reasons = reasons
            r.scrubbed_text = scrubbed
        r.keep = not r.reasons
        r.drop_reason = r.reasons[0] if r.reasons else None

    # token-budget cut LAST (mirrors pipeline cfg.token_budget): per
    # budget_by group, kept rows ordered by (md5(url), url) survive while
    # the inclusive running scrubbed-word total stays <= the budget; the
    # rest flip to drop_reason='token_budget'. Token counts are the same
    # n_words the scorer reports (len(tokenize(scrubbed))).
    if cfg.token_budget is not None:
        import hashlib as _hl

        from .semantics import tokenize as _tok

        groups: dict[Any, list[tuple[str, str, int]]] = {}
        for i, r in enumerate(out):
            if not r.keep:
                continue
            g = rows[i].get(cfg.budget_by) if cfg.budget_by else "all"
            key = _hl.md5(r.url.encode("utf-8")).hexdigest()
            groups.setdefault(g, []).append((key, r.url, i))
        for items in groups.values():
            items.sort()
            running = 0
            for _key, _url, i in items:
                running += len(_tok(out[i].scrubbed_text or ""))
                if running > cfg.token_budget:
                    out[i].keep = False
                    out[i].reasons = ["token_budget"]
                    out[i].drop_reason = "token_budget"
    return out
