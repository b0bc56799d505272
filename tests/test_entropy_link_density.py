"""Goldens for the round-5 session-4 ops: token_entropy (per-doc Shannon
entropy, one Arrow pass) and link_density (jusText boilerplate signal
over raw html). Hand-computable fixtures pin the math and the regex
edge cases; the engine-vs-engine value parity is covered by the driver
oracles (test_entry_contract exercises both queries end-to-end)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataqualitykit_spark.functions import text as T
from dataqualitykit_spark.operators.entropy import py_token_entropy, token_entropy


def _entropy_rows(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_entropy(df)
    return {r["id"]: (r["n_tokens"], r["n_distinct"], r["entropy"]) for r in out.collect()}


def test_token_entropy_goldens(spark):
    got = _entropy_rows(
        spark,
        [
            (1, "a a b b"),           # uniform over 2 tokens -> ln 2
            (2, "x x x x"),           # single token type -> 0.0
            (3, "a b c d e"),         # all distinct -> ln 5
            (4, None),                # NULL -> token-less
            (5, "   \t\n  "),         # whitespace-only -> token-less
            (6, "a a a b"),           # 3/4, 1/4 mix
        ],
    )
    assert got[1] == (4, 2, round(math.log(2), 6))
    assert got[2] == (4, 1, 0.0)
    assert got[3] == (5, 5, round(math.log(5), 6))
    assert got[4] == (0, 0, None)
    assert got[5] == (0, 0, None)
    h6 = math.log(4) - (3 * math.log(3)) / 4
    assert got[6] == (4, 2, round(h6, 6))


def test_py_token_entropy_mirror():
    n, d, h = py_token_entropy("a a b b")
    assert (n, d) == (4, 2) and abs(h - math.log(2)) < 1e-12
    assert py_token_entropy(None) == (0, 0, None)
    assert py_token_entropy("") == (0, 0, None)
    # entropy is maximal at all-distinct: H == ln(n)
    n, d, h = py_token_entropy("one two three")
    assert abs(h - math.log(3)) < 1e-12


def _ld_rows(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = df.select(
        "doc_id",
        T.anchor_char_count(F.col("html")).alias("a"),
        T.visible_char_count(F.col("html")).alias("v"),
        T.link_density(F.col("html")).alias("ld"),
    )
    return {r["doc_id"]: (r["a"], r["v"], r["ld"]) for r in out.collect()}


def test_link_density_goldens(spark):
    got = _ld_rows(
        spark,
        [
            # 4 anchor chars ("home"), 14 visible ("home" + "ten chars!")
            (1, '<p><a href="/">home</a>ten chars!</p>'),
            # no anchors at all -> density 0.0
            (2, "<p>plain prose here</p>"),
            # nested tag inside the anchor is stripped: "Read more" = 9
            (3, '<a href="/m">Read <b>more</b></a>'),
            # unclosed trailing anchor contributes nothing
            (4, 'text<a href="/broken">unclosed'),
            # attribute-less <a> still matches
            (5, "<a>x</a>"),
            # only tags -> zero visible chars -> NULL, not div-by-zero
            (6, "<br><hr>"),
            # NULL html -> NULL everywhere
            (7, None),
            # multi-line anchor: (?s) lets the inner text span newlines
            (8, '<a\nhref="/x">line1\nline2</a>'),
            # case-insensitive: <A HREF=...>...</A>
            (9, '<A HREF="/x">UP</A>'),
        ],
    )
    assert got[1] == (4, 14, 4 / 14)
    assert got[2] == (0, 16, 0.0)
    assert got[3] == (9, 9, 1.0)
    assert got[4] == (0, 12, 0.0)
    assert got[5] == (1, 1, 1.0)
    assert got[6] == (0, 0, None)
    assert got[7] == (None, None, None)
    assert got[8] == (11, 11, 1.0)
    assert got[9] == (2, 2, 1.0)


def test_pipeline_entropy_gate_matches_python_oracle(spark):
    """cfg.min_token_entropy flows through run_pipeline (fused Arrow
    scorer extras field) and the pure-python oracle identically; a
    planted one-sentence-looped spam doc fires drop_reason='low_entropy'
    as the FIRST failing rule, and a short low-entropy doc under the
    entropy_min_words floor does NOT."""
    from datetime import datetime

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA
    from dataqualitykit_spark.fixtures.pages import generate_pages
    from dataqualitykit_spark.oracle import run_oracle
    from dataqualitykit_spark.pipeline import run_pipeline

    ts = datetime(2024, 6, 1)
    spam = "the cat sat on the mat " * 30 + "unique closer"
    short_spam = "the cat sat on the mat the cat sat"  # 8 words < floor
    planted = [
        {"url": "https://ent-spam.example/p", "warc_ts": ts, "html": None,
         "text": spam, "lang": "en"},
        {"url": "https://ent-short.example/p", "warc_ts": ts, "html": None,
         "text": short_spam, "lang": "en"},
    ]
    cfg = PipelineConfig(min_token_entropy=2.2)
    rows = generate_pages(300) + planted
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    got = {
        (r["url"], r["warc_ts"]): (r["keep"], r["drop_reason"], r["scrubbed_text"])
        for r in run_pipeline(df, cfg)
        .select("url", "warc_ts", "keep", "drop_reason", "scrubbed_text")
        .collect()
    }
    mism = []
    for g in run_oracle(rows, cfg):
        k, dr, st = got[(g.url, g.warc_ts)]
        if (k, dr) != (g.keep, g.drop_reason) or (k and st != g.scrubbed_text):
            mism.append((g.url, g.drop_reason, dr))
    assert not mism, (len(mism), mism[:10])
    assert got[("https://ent-spam.example/p", ts)][1] == "low_entropy"
    # under the words floor the gate carries no signal — the doc drops
    # for the earlier length rule (34 chars < min_chars), NOT low_entropy
    assert got[("https://ent-short.example/p", ts)][1] == "too_short"


def test_link_density_everything_linked_page(spark):
    # a pure nav page: all visible text inside anchors -> exactly 1.0
    nav = "".join(f'<li><a href="/{i}">item {i}</a></li>' for i in range(10))
    got = _ld_rows(spark, [(1, f"<ul>{nav}</ul>")])
    a, v, ld = got[1]
    assert a == v and ld == 1.0


def test_nfc_normalize_goldens(spark):
    """NFC composition: decomposed combining sequences compose, composed
    text is untouched (idempotent), NFC never folds compatibility forms
    (ligature survives), NULL passes through."""
    import unicodedata

    from dataqualitykit_spark.operators.encoding import normalize_nfc
    from dataqualitykit_spark.semantics import nfc_normalize

    decomposed = "café Århus"
    composed = unicodedata.normalize("NFC", decomposed)
    assert composed != decomposed and nfc_normalize(decomposed) == composed
    assert nfc_normalize(composed) == composed
    assert nfc_normalize("ﬁ") == "ﬁ"  # 'fi' ligature: NFC keeps it
    assert nfc_normalize(None) is None

    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, None)], "id long, text string"
    )
    got = {r["id"]: r["text"] for r in normalize_nfc(df).collect()}
    assert got == {1: composed, 2: composed, 3: None}


def test_doc_reasons_entropy_zero_words_floor():
    """entropy_min_words <= 0 makes the empty-token case reachable;
    token_entropy_of returns None there and the oracle must NULL-
    propagate to pass like the Spark gate, not raise TypeError
    (ADVICE r5)."""
    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.semantics import doc_reasons

    cfg = PipelineConfig(
        min_token_entropy=2.2, entropy_min_words=0, min_chars=0
    )
    for text in ("", "   ", "\n\t"):
        reasons, _ = doc_reasons(text, cfg)
        assert "low_entropy" not in reasons
