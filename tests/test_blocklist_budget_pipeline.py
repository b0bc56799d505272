"""Round-5 pipeline stages (VERDICT r4 item #4): cfg.blocklist as the
FIRST gate and cfg.token_budget as the FINAL stage, each verified by
Spark-vs-pure-python-oracle parity (oracle.run_oracle) on the pages
fixture. The per-doc host match and budget cut are also checked
independently of the pipeline by the `domain_blocklist` and
`token_budget_sample` driver oracles."""

from __future__ import annotations

import pytest

from dataqualitykit_spark.config import PipelineConfig
from dataqualitykit_spark.fixtures import generate_pages
from dataqualitykit_spark.oracle import run_oracle
from dataqualitykit_spark.pipeline import run_pipeline

N_PAGES = 600


def _pages_with_subdomains():
    rows = generate_pages(N_PAGES)
    for i, r in enumerate(rows):
        if i % 7 == 0:
            r["url"] = r["url"].replace("https://", "https://sub.", 1)
    return rows


def _parity(spark, rows, cfg):
    from dataqualitykit_spark.fixtures.pages import PAGES_SCHEMA

    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    got = {
        (r["url"], r["warc_ts"]): (r["keep"], r["drop_reason"])
        for r in run_pipeline(df, cfg)
        .select("url", "warc_ts", "keep", "drop_reason")
        .collect()
    }
    golden = run_oracle(rows, cfg)
    mism = [
        (g.url, g.drop_reason, got[(g.url, g.warc_ts)])
        for g in golden
        if got[(g.url, g.warc_ts)] != (g.keep, g.drop_reason)
    ]
    assert not mism[:10], mism[:10]
    return golden


def test_blocklist_parity_and_subdomain_match(spark):
    cfg = PipelineConfig(
        blocklist=("hot-domain.example", "medium-a.example", "nope.invalid")
    )
    rows = _pages_with_subdomains()
    golden = _parity(spark, rows, cfg)
    blocked = [g for g in golden if g.drop_reason == "blocked_domain"]
    assert blocked, "blocklist never fired"
    # both the exact host and a planted sub. subdomain must match
    hosts = {g.url.split("://", 1)[1].split("/", 1)[0] for g in blocked}
    assert "hot-domain.example" in hosts, hosts
    assert "sub.hot-domain.example" in hosts, hosts
    # a blocked mirror must never shadow a keepable copy: every blocked
    # row's reason is blocked_domain, never dup_*
    assert all(g.reasons == ["blocked_domain"] for g in blocked)


def test_blocklist_rows_never_scored(spark):
    from pyspark.sql import functions as F

    from dataqualitykit_spark.fixtures import pages_dataframe

    cfg = PipelineConfig(blocklist=("hot-domain.example",))
    out = run_pipeline(pages_dataframe(spark, 300), cfg)
    blocked = out.filter(F.col("drop_reason") == "blocked_domain")
    n = blocked.count()
    assert n > 0
    # metric columns stay NULL for blocked rows (they never reach the
    # Arrow scorer)
    assert blocked.filter(F.col("ppl").isNotNull()).count() == 0
    assert blocked.filter(F.col("scrubbed_text").isNotNull()).count() == 0


@pytest.mark.parametrize("by", ["lang", None])
def test_token_budget_parity(spark, by):
    cfg = PipelineConfig(token_budget=1500, budget_by=by)
    rows = generate_pages(N_PAGES)
    golden = _parity(spark, rows, cfg)
    cut = [g for g in golden if g.drop_reason == "token_budget"]
    kept = [g for g in golden if g.keep]
    assert cut, "budget cut never fired"
    assert kept, "budget dropped everything"


def test_token_budget_deterministic_rerun(spark):
    from dataqualitykit_spark.fixtures import pages_dataframe

    cfg = PipelineConfig(token_budget=1500)
    df = pages_dataframe(spark, 300)
    a = {
        (r["url"], r["warc_ts"]): r["drop_reason"]
        for r in run_pipeline(df, cfg).select("url", "warc_ts", "drop_reason").collect()
    }
    b = {
        (r["url"], r["warc_ts"]): r["drop_reason"]
        for r in run_pipeline(df, cfg).select("url", "warc_ts", "drop_reason").collect()
    }
    assert a == b


def test_blocklist_adds_no_exchanges(spark):
    """The blocklist gate is a plan-literal suffix check: turning it on
    must add ZERO Exchange nodes to the pipeline plan (the 100 TB
    contract — a blocklist that costs a corpus shuffle would be wired
    wrong)."""
    from dataqualitykit_spark.fixtures import pages_dataframe

    df = pages_dataframe(spark, 50)

    def n_exchanges(cfg):
        plan = (
            run_pipeline(df, cfg)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return plan.count("Exchange")

    base = n_exchanges(PipelineConfig())
    with_bl = n_exchanges(PipelineConfig(blocklist=("hot-domain.example",)))
    assert with_bl == base, (base, with_bl)


def test_blocked_domain_col_streaming_composes(spark, tmp_path):
    """blocked_domain_col is a stateless projection — it composes with
    readStream for free (same contract as the c4/repetition columns)."""
    import json as _json

    from pyspark.sql import functions as F

    from dataqualitykit_spark.operators.url_filter import blocked_domain_col

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"url": "https://ads.bad.example/x"},
        {"url": "https://ok.example/y"},
        {"url": "https://bad.example/z"},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("url string").json(str(src))
        .withColumn("blocked", blocked_domain_col(F.col("url"), ["bad.example"]))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("bl_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["url"]: r["blocked"]
            for r in spark.sql("SELECT * FROM bl_stream").collect()
        }
    finally:
        q.stop()
    assert got == {
        "https://ads.bad.example/x": True,
        "https://ok.example/y": False,
        "https://bad.example/z": True,
    }


def test_flag_low_reputation_domains(spark):
    """Domain-prior flag: a planted spam domain (0% keep over >= min_docs
    pages) flags every one of its rows; small domains carry no evidence
    and never flag; healthy domains stay clean."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark.operators.url_filter import (
        domain_reputation,
        flag_low_reputation_domains,
    )

    rows = (
        [(f"https://spam.example/p{i}", False) for i in range(8)]
        + [(f"https://good.example/p{i}", True) for i in range(7)]
        + [("https://good.example/p-bad", False)]
        # tiny domain, all dropped — below min_docs, must NOT flag
        + [("https://tiny.example/p0", False), ("https://tiny.example/p1", False)]
    )
    labeled = spark.createDataFrame(rows, "url string, keep boolean")
    rep = {r["domain"]: r.asDict() for r in domain_reputation(labeled).collect()}
    assert rep["spam.example"]["keep_rate"] == 0.0
    assert rep["good.example"]["keep_rate"] == 0.875
    out = {
        r["url"]: r["low_rep_domain"]
        for r in flag_low_reputation_domains(
            labeled, min_keep_rate=0.3, min_docs=5
        ).collect()
    }
    assert all(out[u] for u, _k in rows if u.startswith("https://spam"))
    assert not any(out[u] for u, _k in rows if not u.startswith("https://spam"))


def test_url_keyword_gate_parity_and_threshold(spark):
    """cfg.url_keyword_weights (RefinedWeb-style soft URL score): one
    strict word blocks alone, two soft words co-occurring block, a single
    soft word survives; Spark and the pure-python oracle agree row for
    row, and flagged rows never shadow a keepable copy."""
    weights = (("casino", 1.0), ("betting", 0.5), ("pills", 0.5))
    cfg = PipelineConfig(url_keyword_weights=weights)
    rows = generate_pages(N_PAGES)
    for i, r in enumerate(rows):
        if i % 9 == 0:
            r["url"] = r["url"].replace("/page", "/CASINO-night/page", 1)
        elif i % 9 == 1:
            r["url"] = r["url"].replace("/page", "/betting-pills/page", 1)
        elif i % 9 == 2:
            r["url"] = r["url"].replace("/page", "/betting-tips/page", 1)
    golden = _parity(spark, rows, cfg)
    flagged = [g for g in golden if g.drop_reason == "url_keywords"]
    assert flagged, "url keyword gate never fired"
    # case-insensitive strict hit and the two-soft-word path both fire
    assert any("CASINO" in g.url for g in flagged)
    assert any("betting-pills" in g.url for g in flagged)
    # the single soft hit (0.5 < 1.0) never fires this reason
    assert all("betting-tips" not in g.url for g in flagged)
    assert all(g.reasons == ["url_keywords"] for g in flagged)


def test_url_keyword_score_col_matches_python_mirror(spark):
    from pyspark.sql import functions as F

    from dataqualitykit_spark.operators.url_filter import (
        URL_KEYWORD_WEIGHTS,
        url_keyword_score_col,
    )
    from dataqualitykit_spark.semantics import url_keyword_score

    urls = [
        "https://x.example/casino",
        "https://x.example/poker-and-betting",
        "https://PILLS.example/ADULT",
        "https://clean.example/news",
        None,
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    got = {
        r["i"]: r["s"]
        for r in df.select(
            "i", url_keyword_score_col(F.col("url")).alias("s")
        ).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == url_keyword_score(u, URL_KEYWORD_WEIGHTS), (i, u)
    # hand-computed goldens: strict casino; soft poker + betting; soft
    # pills + adult across host and path, case-folded; no hit; NULL
    assert [got[i] for i in range(len(urls))] == [1.0, 1.0, 1.0, 0.0, 0.0]


def test_url_keyword_and_entropy_gates_add_no_exchanges(spark):
    """The soft URL keyword gate is a plan-literal contains-fold and the
    entropy gate rides the existing fused Arrow pass: turning either (or
    both) on must add ZERO Exchange nodes and ZERO extra ArrowEvalPython
    stages to the pipeline plan (the 100 TB contract)."""
    from dataqualitykit_spark.fixtures import pages_dataframe

    df = pages_dataframe(spark, 50)

    def plan_counts(cfg):
        plan = (
            run_pipeline(df, cfg)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return plan.count("Exchange"), plan.count("ArrowEvalPython")

    base = plan_counts(PipelineConfig())
    both = plan_counts(
        PipelineConfig(
            url_keyword_weights=(("casino", 1.0),),
            min_token_entropy=2.2,
        )
    )
    assert both == base, (base, both)


def test_blocked_domain_col_null_url_is_false(spark):
    """NULL url must yield False, not NULL (ADVICE r5): a NULL _blocked
    would poison run_pipeline's eligible/_survivor booleans and silently
    exclude the row from every downstream gate. A NULL-url row must
    behave identically with the blocklist on and off."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark.fixtures import PAGES_SCHEMA, generate_pages
    from dataqualitykit_spark.operators.url_filter import blocked_domain_col

    flags = (
        spark.createDataFrame(
            [("https://hot-domain.example/a",), (None,)], "url string"
        )
        .select(blocked_domain_col(F.col("url"), ["hot-domain.example"]).alias("b"))
        .collect()
    )
    assert [r["b"] for r in flags] == [True, False]

    from datetime import datetime

    ts = datetime(2024, 6, 1)
    planted = [{
        "url": None, "warc_ts": ts, "html": None,
        "text": "a perfectly reasonable document body " * 8, "lang": "en",
    }]
    rows = generate_pages(120) + planted
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    per_cfg = []
    for cfg in (PipelineConfig(), PipelineConfig(blocklist=("hot-domain.example",))):
        got = [
            (r["keep"], r["drop_reason"])
            for r in run_pipeline(df, cfg).filter("url is null").collect()
        ]
        assert len(got) == 1
        keep, reason = got[0]
        # whatever the engine decides for a NULL-url row, it must be an
        # explicit labeled decision, never a fell-through-all-gates row
        assert keep is True or reason is not None
        if cfg.blocklist:
            assert reason != "blocked_domain"
        per_cfg.append(got[0])
    # parity across the two configs (the planted row hits no blocked host)
    assert per_cfg[0] == per_cfg[1]
