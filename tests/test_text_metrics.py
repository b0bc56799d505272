"""Column-algebra (functions/text.py) must agree with the Python mirrors
(semantics.py) on adversarial inputs — this parity is what makes the
oracle comparison meaningful."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataqualitykit_spark import semantics as S
from dataqualitykit_spark.functions import text as T

ADVERSARIAL = [
    "",
    " ",
    "a",
    "the cat sat on the mat",
    "  leading and trailing  ",
    "tabs\tand\nnewlines\r\x0b\x0cmixed",
    "nbsp\xa0is not a separator",
    "line1\nline1\nline1\nline2",
    "\n\n\n",
    "sym!@#$%^&*()bols",
    "ünïcödé wörds hère",
    "a  double  spaces",
    "NA",
    "ALL CAPS THE AND OF",
    "x" * 500,
    "word " * 100,
]


@pytest.fixture(scope="module")
def metrics_rows(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, t string")
    out = df.select(
        "id",
        T.char_count(F.col("t")).alias("n_chars"),
        T.word_count(F.col("t")).alias("n_words"),
        T.mean_word_length(F.col("t")).alias("mwl"),
        T.symbol_count(F.col("t")).alias("symbols"),
        T.line_count(F.col("t")).alias("n_lines"),
        T.distinct_line_ratio(F.col("t")).alias("dlr"),
        T.stopword_hits(F.col("t")).alias("sw"),
        T.boilerplate_hits(F.col("t")).alias("bp"),
        T.is_missing(F.col("t")).alias("missing"),
        T.content_hash(F.col("t")).alias("chash"),
    ).collect()
    return {r["id"]: r for r in out}


def test_parity(metrics_rows):
    for i, t in enumerate(ADVERSARIAL):
        r = metrics_rows[i]
        words = S.tokenize(t)
        assert r["n_chars"] == len(t), (i, t)
        assert r["n_words"] == len(words), (i, t)
        assert math.isclose(r["mwl"], S.mean_word_length(words), abs_tol=1e-9), (i, t)
        assert r["symbols"] == S.symbol_count(t), (i, t)
        n_lines, n_distinct = S.line_stats(t)
        assert r["n_lines"] == n_lines, (i, t)
        expected_dlr = 1.0 if n_lines == 0 else n_distinct / n_lines
        assert math.isclose(r["dlr"], expected_dlr, abs_tol=1e-9), (i, t)
        assert r["sw"] == S.stopword_hits(words), (i, t)
        assert r["bp"] == S.boilerplate_hits(t), (i, t)
        assert r["missing"] == S.is_missing(t), (i, t)
        assert r["chash"] == S.content_hash(t), (i, t)


def test_udf_parity(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, t string"
    )
    from dataqualitykit_spark.udfs import lang_ppl_udf, scrub_udf

    rows = df.select(
        "id", scrub_udf("t").alias("scrubbed"), lang_ppl_udf("t").alias("score")
    ).collect()
    for r in rows:
        t = ADVERSARIAL[r["id"]]
        assert r["scrubbed"] == S.scrub_text(t), r["id"]
        lang, conf = S.langid(t)
        words = S.tokenize(t)
        assert r["score"]["lang"] == lang
        assert math.isclose(r["score"]["lang_conf"], conf, abs_tol=1e-12)
        assert math.isclose(r["score"]["ppl"], S.perplexity(t), rel_tol=1e-12)
        assert r["score"]["n_words"] == len(words)
        assert math.isclose(
            r["score"]["mean_word_len"], S.mean_word_length(words), abs_tol=1e-12
        )
        assert r["score"]["stopword_hits"] == S.stopword_hits(words)


def test_score_document_equals_separate_functions():
    for t in ADVERSARIAL:
        lang, conf, ppl, n_words, mwl, sw = S.score_document(t)
        words = S.tokenize(t)
        assert (lang, conf) == S.langid(t), t
        assert ppl == S.perplexity(t), t
        assert n_words == len(words)
        assert mwl == S.mean_word_length(words)
        assert sw == S.stopword_hits(words)


def test_full_metrics_equals_separate_functions():
    for t in ADVERSARIAL:
        (lang, conf, ppl, n_words, mwl, sw, n_chars, sym, n_lines,
         n_distinct, bp, missing) = S.full_metrics(t)
        assert (lang, conf, ppl, n_words, mwl, sw) == S.score_document(t)
        assert n_chars == len(t)
        assert sym == S.symbol_count(t)
        assert (n_lines, n_distinct) == S.line_stats(t)
        assert bp == S.boilerplate_hits(t)
        assert missing == S.is_missing(t)


def test_normalize_url_mirror_parity(spark):
    from pyspark.sql import functions as F

    import dataqualitykit_spark.semantics as S
    from dataqualitykit_spark.functions import text as T

    cases = [
        "HTTPS://Example.COM/Path/Page/?utm_source=x&id=7#frag",
        "http://A.B/p?utm_a=1&utm_b=2",
        "http://a.b/p?utm_a=1&b=2&utm_c=3",
        "https://Site.Org/",
        "https://site.org/deep/path/",
        "ftp://Host/X?gclid=abc",
        "no-scheme/path?utm_x=1",
        "http://h/p?a=1&fbclid=zz&b=2",
        "http://h/p",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "u string")
    got = [r["n"] for r in df.select(T.normalize_url(F.col("u")).alias("n")).collect()]
    assert got == [S.normalize_url(c) for c in cases]
    # golden canonical forms
    assert S.normalize_url("HTTPS://Example.COM/P/?utm_source=x&id=7#f") == (
        "https://example.com/P/?id=7"
    )
    assert S.normalize_url("http://A.B/p?utm_a=1&utm_b=2") == "http://a.b/p"
    assert S.normalize_url("https://site.org/deep/path/") == "https://site.org/deep/path"


def test_bpe_token_count_three_way_parity(spark):
    """REAL learned-merge BPE: python mirror == Spark column chain ==
    DuckDB oracle, plus semantic sanity (merges compress; frequent words
    from the training corpus collapse to one token)."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    import dataqualitykit_spark.semantics as S
    from dataqualitykit_spark.functions import text as T

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "The Children PLAYED in the fields, and the river ran slowly!",
        "zzqx 12345 !! weird-gibberish",
        "",
        "   ",
        "a",
        "hello, world. mixing 42 numbers and punct... #$%",
        "the the the",
    ]
    py = [S.bpe_token_count(t) for t in texts]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    sp = [
        r["n"]
        for r in df.select("i", T.token_count_bpe(F.col("text")).alias("n"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {E._sql_lit(t)})" for i, t in enumerate(texts))
        + ") v(doc_id, text)"
    )
    ctes, table, merged = E._bpe_merge_ctes("text", "documents")
    dk = [
        r[1]
        for r in con.execute(
            f"WITH {ctes} SELECT doc_id, {E._bpe_tokens_of(merged)} AS n "
            f"FROM {table} ORDER BY doc_id"
        ).fetchall()
    ]
    assert py == sp == dk, (py, sp, dk)

    # training-corpus words collapse to single tokens; merges do compress
    assert S.bpe_token_count("the") == 1
    assert S.bpe_token_count("the the the") == 3
    long = "the children played in the fields while the sun was shining"
    n_chars_nonspace = len(long.replace(" ", ""))
    n_words = len(long.split())
    assert n_words <= S.bpe_token_count(long) < n_chars_nonspace
    # rank-order property held at training time: any pair consuming a
    # merged token was learned after the merge that created it
    created = set("abcdefghijklmnopqrstuvwxyz0123456789")
    for a, b in S.BPE_MERGES:
        assert a in created and b in created, (a, b)
        created.add(a + b)


def test_html_to_text_parity_and_goldens(spark):
    """html_to_text: python mirror == Spark column on gnarly markup, plus
    golden extractions (script/style bodies never leak, entities decode,
    block tags become line structure)."""
    from pyspark.sql import functions as F

    import dataqualitykit_spark.semantics as S
    from dataqualitykit_spark.functions import text as T

    cases = [
        "<html><body><p>plain para</p></body></html>",
        '<script>var x = 1; if (x < 2) { alert("hi"); }</script>visible',
        "<style>p {color: red}</style><p>styled &amp; ready</p>",
        "<!-- secret -->shown<br>next line",
        "<ul><li>alpha</li><li>beta &lt;b&gt;</li></ul>",
        "text &nbsp; with &quot;quotes&quot; and &#39;apostrophe&#39;",
        "no markup at all",
        "<div>a</div>\n\n\n\n<div>b</div>",
        "&amp;lt; stays literal entity",
        "",
    ]
    py = [S.html_to_text(c) for c in cases]
    df = spark.createDataFrame(list(enumerate(cases)), "i int, h string")
    sp = [
        r["t"]
        for r in df.select("i", T.html_to_text(F.col("h")).alias("t"))
        .orderBy("i")
        .collect()
    ]
    assert py == sp, list(zip(py, sp))

    assert S.html_to_text("<html><body><p>plain para</p></body></html>") == "plain para"
    assert (
        S.html_to_text('<script>var x = 1; if (x < 2) { alert("hi"); }</script>visible')
        == "visible"
    )
    assert S.html_to_text("<style>p {color: red}</style><p>styled &amp; ready</p>") == (
        "styled & ready"
    )
    assert S.html_to_text("<!-- secret -->shown<br>next line") == "shown\nnext line"
    # adjacent closing+opening block tags yield a paragraph break
    assert S.html_to_text("<ul><li>alpha</li><li>beta &lt;b&gt;</li></ul>") == (
        "alpha\n\nbeta <b>"
    )
    assert S.html_to_text("&amp;lt; stays literal entity") == "&lt; stays literal entity"
    assert S.html_to_text("<div>a</div>\n\n\n\n<div>b</div>") == "a\n\nb"
    assert S.html_to_text(None) is None


def test_has_noindex_goldens(spark):
    """Robots noindex: both attribute orders, optional quotes, mixed
    case hit; robots metas WITHOUT noindex, noindex in body text, and
    NULL html do not."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark.functions.text import has_noindex

    rows = [
        (1, '<head><meta name="robots" content="noindex,nofollow"></head>'),
        (2, "<meta content='noindex' name=robots>"),
        (3, '<META NAME="ROBOTS" CONTENT="NOINDEX">'),
        (4, '<meta name="robots" content="index, follow">'),
        (5, "<p>the word noindex in body text</p>"),
        (6, None),
        (7, '<meta name="googlebot" content="noindex">'),  # not robots
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = {
        r["id"]: r["noindex"]
        for r in df.select("id", has_noindex(F.col("html")).alias("noindex")).collect()
    }
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False, 6: False, 7: False}
