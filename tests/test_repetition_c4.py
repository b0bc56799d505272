"""Hand-computed goldens for the Gopher repetition metrics and the
C4-style line filter (training-data op family; driver oracles
`gopher_repetition` / `c4_line_filter` cross-check at sf0.01)."""

from __future__ import annotations

from dataqualitykit_spark.operators.c4_filter import c4_line_filter
from dataqualitykit_spark.operators.repetition import repetition_metrics


def _by_id(rows):
    return {r["id"]: r.asDict() for r in rows}


def test_repetition_metrics_goldens(spark):
    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d e\n\n"),
            (2, "x y z w v x y z w v"),
            (3, None),
            (4, "hi"),
        ],
        "doc_id long, text string",
    )
    out = _by_id(repetition_metrics(df).collect())
    assert len(out) == 4

    r1 = out[1]
    # lines: ['a b','a b','c d e'] -> 3 lines, 2 distinct
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == round(1 / 3, 6)
    # chars in duplicated lines: both 'a b' (3+3) over 3+3+5=11
    assert r1["dup_line_char_frac"] == round(6 / 11, 6)
    # 7 words -> 3 distinct 5-grams, no dup
    assert r1["dup_5gram_frac"] == 0.0
    # 'a b' 2-gram occurs twice: 2*3 chars over len(text)=15
    assert r1["top_2gram_char_frac"] == round(6 / 15, 6)

    r2 = out[2]
    assert r2["n_lines"] == 1
    assert r2["dup_line_frac"] == 0.0
    # 10 words -> 6 5-grams, 'x y z w v' repeats -> 5 distinct
    assert r2["dup_5gram_frac"] == round(1 / 6, 6)
    # best repeated 2-gram: count 2 * 3 chars over 19 chars
    assert r2["top_2gram_char_frac"] == round(6 / 19, 6)

    r3 = out[3]  # NULL text -> zeros
    assert (
        r3["n_lines"],
        r3["dup_line_frac"],
        r3["dup_line_char_frac"],
        r3["dup_5gram_frac"],
        r3["top_2gram_char_frac"],
    ) == (0, 0.0, 0.0, 0.0, 0.0)

    r4 = out[4]  # single word: whole-text grams, nothing repeats
    assert r4["dup_5gram_frac"] == 0.0
    assert r4["top_2gram_char_frac"] == 0.0


def test_c4_line_filter_goldens(spark):
    doc_a = (
        "This is a good sentence.\n"
        "short\n"
        "Bad javascript line here.\n"
        "Another fine line works!\n"
        "No punct line here"
    )
    doc_b = (
        "One fine sentence here.\n"
        "Two fine sentences here.\n"
        "Three fine sentences here."
    )
    doc_c = (
        "Lorem ipsum dolor sit amet.\n"
        "Good sentence number two here.\n"
        "Good sentence number three here."
    )
    doc_e = (
        "Code sample {x} found here.\n"
        "Another good sentence here.\n"
        "Third good sentence here."
    )
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c), (4, None), (5, doc_e)],
        "doc_id long, text string",
    )
    out = _by_id(c4_line_filter(df).collect())

    a = out[1]
    assert a["cleaned_text"] == (
        "This is a good sentence.\nAnother fine line works!"
    )
    assert (a["n_lines_kept"], a["n_lines_dropped"]) == (2, 3)
    # only 2 sentence ends survive -> dropped
    assert (a["keep"], a["drop_reason"]) == (False, "too_few_sentences")

    b = out[2]
    assert b["cleaned_text"] == doc_b
    assert (b["keep"], b["drop_reason"]) == (True, None)
    assert (b["n_lines_kept"], b["n_lines_dropped"]) == (3, 0)

    c = out[3]  # every line survives, then the doc-level ban fires
    assert c["n_lines_kept"] == 3
    assert (c["keep"], c["drop_reason"]) == (False, "policy_phrase")

    d = out[4]
    assert d["cleaned_text"] is None
    assert (d["keep"], d["drop_reason"]) == (False, "missing_text")
    assert (d["n_lines_kept"], d["n_lines_dropped"]) == (0, 0)

    e = out[5]  # '{' marker -> source-code page
    assert (e["keep"], e["drop_reason"]) == (False, "policy_phrase")


def test_c4_quoted_line_end_kept(spark):
    df = spark.createDataFrame(
        [(1, 'She said "go home"\nAnd then a second sentence.\nAnd then a third one arrived.')],
        "doc_id long, text string",
    )
    r = _by_id(c4_line_filter(df).collect())[1]
    # quote counts as terminal punctuation -> the line survives
    assert r["n_lines_kept"] == 3


def _budget_oracle(rows, budget):
    """One-window mirror of sample_to_token_budget: per lang, order by
    (md5(id), id), keep while inclusive cumsum <= budget."""
    import hashlib
    import re
    from collections import defaultdict

    pat = re.compile(
        r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\x0b\f]+"
    )
    by_lang = defaultdict(list)
    for doc_id, lang, text in rows:
        ntok = len(pat.findall(text)) if text is not None else 0
        key = hashlib.md5(str(doc_id).encode()).hexdigest()
        by_lang[lang].append((key, doc_id, ntok))
    kept = {}
    for lang, docs in by_lang.items():
        run = 0
        for key, doc_id, ntok in sorted(docs):
            run += ntok  # prefix-CUT semantics: inclusive cumsum <= budget
            if run <= budget:
                kept[doc_id] = ntok
    return kept


def test_sample_to_token_budget_matches_one_window_oracle(spark):
    from dataqualitykit_spark.operators.sampling import sample_to_token_budget

    rows = [
        (i, ["en", "de", "fr"][i % 3], "word " * (5 + (i * 7) % 40))
        for i in range(120)
    ] + [(997, "en", None)] + [
        # NULL group: budgeted as its own group, never silently dropped
        (1000 + i, None, "word " * 30) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for budget in (0, 50, 400, 10**9):
        got = {
            r["doc_id"]: r["n_tokens"]
            for r in sample_to_token_budget(df, budget).collect()
        }
        want = _budget_oracle(rows, budget)
        assert got == want, (budget, len(got), len(want))


def test_filter_blocked_domains(spark):
    from dataqualitykit_spark.operators.url_filter import filter_blocked_domains

    df = spark.createDataFrame(
        [
            (1, "https://spam.example.com/page"),      # subdomain of blocked
            (2, "https://example.com/else"),           # exact blocked
            (3, "https://fine.example.org/x"),         # unrelated
            (4, "https://notexample.com/x"),           # suffix must be label-wise
            (5, "https://Sub.BLOCKED.net/y"),          # case-insensitive
        ],
        "doc_id long, url string",
    )
    out = filter_blocked_domains(df, ["example.com", "blocked.net"])
    assert {r["doc_id"] for r in out.collect()} == {3, 4}

    labeled = filter_blocked_domains(
        df, ["example.com", "blocked.net"], label_only=True
    )
    got = {r["doc_id"]: r["blocked_domain"] for r in labeled.collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 5: True}


def _pipeline_vs_oracle(spark, rows, cfg):
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA
    from dataqualitykit_spark.oracle import run_oracle
    from dataqualitykit_spark.pipeline import run_pipeline

    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    got = {
        (r["url"], r["warc_ts"]): (r["keep"], r["drop_reason"], r["scrubbed_text"])
        for r in run_pipeline(df, cfg)
        .select("url", "warc_ts", "keep", "drop_reason", "scrubbed_text")
        .collect()
    }
    mism, reasons = [], set()
    for g in run_oracle(rows, cfg):
        k, dr, st = got[(g.url, g.warc_ts)]
        reasons.add(dr)
        if (k, dr) != (g.keep, g.drop_reason) or (k and st != g.scrubbed_text):
            mism.append((g.url, g.drop_reason, dr))
    assert not mism, (len(mism), mism[:10])
    return reasons


def test_pipeline_repetition_gate_matches_python_oracle(spark):
    """The Gopher repetition gates flow through run_pipeline and the
    pure-python oracle identically, and demonstrably fire on the
    fixture's repeated-line docs."""
    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures.pages import generate_pages

    from datetime import datetime
    import random

    from dataqualitykit_spark.fixtures.pages import _english_sentence

    # naive like the fixture's own timestamps — Spark collects naive
    ts = datetime(2024, 6, 1)
    planted = []
    for i in range(3):
        # one long line: a 20-word phrase looped 5x -> dup_5gram_frac
        # ~0.8, while line-level metrics stay clean (single line) so no
        # higher-priority rule shadows the repetition reason
        phrase = _english_sentence(random.Random(300 + i), 20)
        planted.append(
            {
                "url": f"https://rep-{i}.example/p",
                "warc_ts": ts,
                "html": None,
                "text": " ".join([phrase] * 5),
                "lang": "en",
            }
        )
    cfg = PipelineConfig(
        max_dup_line_char_frac=0.3, max_dup_5gram_frac=0.3
    )
    reasons = _pipeline_vs_oracle(spark, generate_pages(400) + planted, cfg)
    assert "repetition" in reasons, sorted(r for r in reasons if r)


def test_pipeline_c4_gate_matches_python_oracle(spark):
    """cfg.c4_lines: line rewrite + policy_phrase gate, Spark vs python
    oracle. The fixture corpus (no terminal punctuation) plus planted
    punctuated docs: a clean keeper, a lorem-ipsum doc, a '{' doc."""
    from datetime import datetime

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures.pages import (
        _english_sentence,
        generate_pages,
    )
    import random

    ts = datetime(2024, 6, 1)

    def _punctuated(seed, extra=""):
        # fixture text is unpunctuated word salad; rebuild it as 8 long
        # terminal-punctuated lines so the C4 line filter keeps them
        words = _english_sentence(random.Random(seed), 160).split()
        lines = [
            " ".join(words[i : i + 20]) + "." for i in range(0, 160, 20)
        ]
        return extra + "\n".join(lines)

    planted = [
        {
            "url": f"https://c4-keep-{i}.example/p",
            "warc_ts": ts,
            "html": None,
            "text": _punctuated(100 + i),
            "lang": "en",
        }
        for i in range(4)
    ] + [
        {
            "url": "https://c4-lorem.example/p",
            "warc_ts": ts,
            "html": None,
            "text": _punctuated(7, "Lorem ipsum dolor sit amet today.\n"),
            "lang": "en",
        },
        {
            "url": "https://c4-brace.example/p",
            "warc_ts": ts,
            "html": None,
            "text": _punctuated(8, "Some code sample { with a brace here.\n"),
            "lang": "en",
        },
    ]
    rows = generate_pages(150) + planted
    cfg = PipelineConfig(c4_lines=True)
    reasons = _pipeline_vs_oracle(spark, rows, cfg)
    assert "policy_phrase" in reasons, sorted(r for r in reasons if r)
    assert None in reasons  # punctuated keepers survive the line filter


def test_c4_crlf_lines_survive(spark):
    """CRLF documents: the trailing \\r must not defeat the terminal-
    punctuation test (space-only rtrim would silently empty the whole
    corpus)."""
    doc = (
        "First proper sentence right here.\r\n"
        "Second proper sentence right here.\r\n"
        "Third proper sentence right here.\r"
    )
    r = _by_id(c4_line_filter(
        spark.createDataFrame([(1, doc)], "doc_id long, text string")
    ).collect())[1]
    assert r["n_lines_kept"] == 3
    assert r["keep"] is True


def test_filter_blocked_domains_port_and_userinfo(spark):
    """Explicit ports and userinfo must not defeat the blocklist."""
    from dataqualitykit_spark.operators.url_filter import filter_blocked_domains

    df = spark.createDataFrame(
        [
            (1, "https://ads.example.com:8080/page"),
            (2, "https://user@example.com/page"),
            (3, "https://user:pw@sub.example.com:443/x"),
            (4, "https://fine.other.org:8080/x"),
        ],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["blocked_domain"]
        for r in filter_blocked_domains(
            df, ["example.com"], label_only=True
        ).collect()
    }
    assert got == {1: True, 2: True, 3: True, 4: False}


def _top_frac_oracle(rows, frac):
    """One-window mirror of top_fraction_by_score: per group, rank by
    (score DESC, md5(id), id), keep rn <= ceil(frac * n)."""
    import hashlib
    import math
    from collections import defaultdict

    by_g = defaultdict(list)
    for doc_id, g, score in rows:
        key = hashlib.md5(str(doc_id).encode()).hexdigest()
        # score None sorts LAST (dropped first): sort key (not-none, score) desc
        by_g[g].append(((score is not None, score if score is not None else 0.0), key, doc_id))
    kept = set()
    for g, docs in by_g.items():
        # (score-presence, score) DESC primary; (md5 key, id) ASC
        # tie-break — two stable sorts, secondary first
        docs.sort(key=lambda t: (t[1], t[2]))
        docs.sort(key=lambda t: t[0], reverse=True)
        keep_n = min(len(docs), math.ceil(frac * len(docs)))
        for _s, _k, doc_id in docs[:keep_n]:
            kept.add(doc_id)
    return kept


def test_top_fraction_by_score_matches_one_window_oracle(spark):
    """Histogram-prefix cut == one-window row_number form, at several
    fractions, with ties (equal scores resolved by md5 key), a NULL
    group, NULL scores (sort last), and out-of-[lo,hi] scores (clamped
    for binning, true score ordering preserved)."""
    from dataqualitykit_spark.operators.sampling import top_fraction_by_score

    rows = []
    for i in range(150):
        g = ["en", "de", None][i % 3]
        score = [0.9, 0.5, 0.5, 0.1, 1.7, -0.3][i % 6]  # ties + out-of-range
        rows.append((i, g, float(score)))
    rows.append((900, "en", None))  # NULL score -> dropped first
    df = spark.createDataFrame(rows, "doc_id long, g string, score double")
    for frac in (0.0, 0.25, 0.5, 1.0):
        got = {
            r["doc_id"]
            for r in top_fraction_by_score(
                df, frac, score_col="score", id_col="doc_id", by="g"
            ).collect()
        }
        want = _top_frac_oracle(rows, frac)
        assert got == want, (frac, len(got), len(want), got ^ want)
    # global pool (by=None): one group over everything
    got_all = {
        r["doc_id"]
        for r in top_fraction_by_score(
            df, 0.25, score_col="score", id_col="doc_id", by=None
        ).collect()
    }
    want_all = _top_frac_oracle([(i, "all", s) for i, _g, s in rows], 0.25)
    assert got_all == want_all
    # exactness: per-group kept counts are ceil(frac * n) exactly
    import math
    from collections import Counter

    kept_per_g = Counter(
        r["g"]
        for r in top_fraction_by_score(
            df, 0.25, score_col="score", id_col="doc_id", by="g"
        ).collect()
    )
    n_per_g = Counter(g for _i, g, _s in rows)
    for g, n in n_per_g.items():
        assert kept_per_g[g] == math.ceil(0.25 * n), (g, n, kept_per_g[g])


def test_hash_split_deterministic_and_exhaustive(spark):
    """hash_split: every row gets exactly one split; assignment is
    identical across runs and independent of partitioning; salt rotates
    it; proportions track the fractions (loose bound — it's a hash)."""
    from dataqualitykit_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    fr = {"train": 0.5, "val": 0.25, "test": 0.25}
    a = {r["doc_id"]: r["split"] for r in hash_split(df, fr).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7), fr).collect()
    }
    assert a == b  # partition-independent
    assert set(a.values()) <= {"train", "val", "test"}
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.5) < 0.05, c
    assert abs(c["val"] / 2000 - 0.25) < 0.05, c
    salted = {
        r["doc_id"]: r["split"]
        for r in hash_split(df, fr, salt="v2").collect()
    }
    assert salted != a  # salt rotates assignment
    import pytest as _pt

    with _pt.raises(ValueError, match="> 1"):
        hash_split(df, {"a": 0.9, "b": 0.2})


def test_gopher_line_metrics_goldens(spark):
    """Gopher line-shape rules (Rae 2021 A1.1.1): bullet-heavy lists,
    ellipsis teaser pages and symbol soup all fail; ordinary prose
    passes; NULL and empty text fail closed."""
    from dataqualitykit_spark.operators.repetition import gopher_line_metrics

    df = spark.createDataFrame(
        [
            # 3/4 lines bulleted (0.75 <= 0.9) AND the bullet markers
            # only cost 3/18 words their alpha (0.833 >= 0.8)
            (1, "• one extra thing here\n• two more things here\n- three little things\nprose line with words"),
            (2, "Read the story...\nMore below…\nA normal line here"),
            (3, "%% ## 12 34 @@ ::"),
            (4, "Two plain sentences of text.\nAnother ordinary line."),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in gopher_line_metrics(df).collect()}
    r1 = out[1]  # 3 of 4 lines bulleted -> 0.75 <= 0.9 passes bullets
    assert r1["bullet_line_frac"] == 0.75
    assert r1["gopher_line_ok"] is True
    # all-bullet doc fails
    all_b = spark.createDataFrame(
        [(9, "• a\n• b\n• c")], "doc_id long, text string"
    )
    r9 = gopher_line_metrics(all_b).collect()[0]
    assert r9["bullet_line_frac"] == 1.0 and r9["gopher_line_ok"] is False
    r2 = out[2]  # 2 of 3 lines end with ellipsis -> 0.667 > 0.3 fails
    assert r2["ellipsis_line_frac"] == round(2 / 3, 6)
    assert r2["gopher_line_ok"] is False
    r3 = out[3]  # zero alpha words
    assert r3["alpha_word_frac"] == 0.0 and r3["gopher_line_ok"] is False
    r4 = out[4]
    assert r4["alpha_word_frac"] == 1.0 and r4["gopher_line_ok"] is True
    assert out[5]["gopher_line_ok"] is False and out[5]["n_lines"] == 0
    assert out[6]["gopher_line_ok"] is False


def test_pipeline_line_shape_gate_matches_python_oracle(spark):
    """The Gopher line-shape gates flow through run_pipeline (fused
    Arrow scorer) and the pure-python oracle identically; planted
    all-bullet, ellipsis-teaser and numeric-soup docs fire
    drop_reason='line_shape' as the FIRST failing rule."""
    from datetime import datetime

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures.pages import generate_pages
    from dataqualitykit_spark.operators import repetition as R

    ts = datetime(2024, 6, 1)
    bullets = "\n".join(
        f"• the quick brown fox jumps over the lazy dog number {i}"
        for i in range(4)
    )
    teasers = "\n".join(
        f"a distinct teaser line number {i} that keeps you wanting more..."
        for i in range(4)
    )
    soup = "12 345 67 890 23 456 78 901 34 567 89 012 45 678 90 123 " * 3
    planted = [
        {"url": "https://ls-b.example/p", "warc_ts": ts, "html": None,
         "text": bullets, "lang": "en"},
        {"url": "https://ls-e.example/p", "warc_ts": ts, "html": None,
         "text": teasers, "lang": "en"},
        {"url": "https://ls-s.example/p", "warc_ts": ts, "html": None,
         "text": soup, "lang": "en"},
    ]
    cfg = PipelineConfig(
        max_bullet_line_frac=R.MAX_BULLET_LINE_FRAC,
        max_ellipsis_line_frac=R.MAX_ELLIPSIS_LINE_FRAC,
        min_alpha_word_frac=R.MIN_ALPHA_WORD_FRAC,
    )
    reasons = _pipeline_vs_oracle(spark, generate_pages(400) + planted, cfg)
    assert "line_shape" in reasons, sorted(r for r in reasons if r)


def test_paragraph_ppl_scrub_goldens(spark):
    """CCNet paragraph-level LM filter: gibberish paragraphs drop,
    English prose survives, blank paragraphs are preserved as structure,
    NULL text passes through, non-Latin paragraphs score the +inf
    sentinel and drop."""
    from dataqualitykit_spark.operators.paragraph_quality import (
        paragraph_ppl_scrub,
    )

    prose = "the quick brown fox jumps over the lazy dog and then rests there"
    gib = "zxq qvk jxw zzv qqk xjz vqz kxq jzz wvx qkz zzq"
    df = spark.createDataFrame(
        [
            (1, f"{prose}\n{gib}\n{prose}"),
            (2, f"{prose}\n\n{prose}"),  # blank para preserved
            (3, None),
            (4, "это русский текст без латинских букв"),  # empty projection
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in paragraph_ppl_scrub(df).collect()}
    assert out[1]["cleaned_text"] == f"{prose}\n{prose}"
    assert (out[1]["n_paras"], out[1]["n_dropped"]) == (2 + 1, 1)
    assert out[2]["cleaned_text"] == f"{prose}\n\n{prose}"
    assert out[2]["n_dropped"] == 0
    assert out[3]["cleaned_text"] is None and out[3]["n_paras"] == 0
    assert out[4]["cleaned_text"] == "" and out[4]["n_dropped"] == 1
