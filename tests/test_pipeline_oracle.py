"""The correctness gate (BASELINE.json): Spark pipeline vs pure-Python
oracle on the deterministic pages fixture.

- keep/drop F1 must be 1.0 (target >= 0.99)
- drop_reason must match exactly
- scrubbed_text must be byte-identical per (url, warc_ts)
"""

from __future__ import annotations

import pytest

from dataqualitykit_spark.fixtures import generate_pages, pages_dataframe
from dataqualitykit_spark.oracle import run_oracle
from dataqualitykit_spark.pipeline import dataset_card, quality_metrics, run_pipeline

N_PAGES = 2000


@pytest.fixture(scope="module")
def labeled(spark):
    df = pages_dataframe(spark, N_PAGES)
    rows = run_pipeline(df).select(
        "url", "warc_ts", "scrubbed_text", "keep", "drop_reason"
    ).collect()
    return {(r["url"], r["warc_ts"]): r for r in rows}


@pytest.fixture(scope="module")
def golden():
    return run_oracle(generate_pages(N_PAGES))


def test_row_counts(labeled, golden):
    assert len(labeled) == len(golden) > N_PAGES  # snapshot rows present


def test_keep_f1_and_reasons(labeled, golden):
    tp = fp = fn = 0
    mismatches = []
    for g in golden:
        r = labeled[(g.url, g.warc_ts)]
        if g.keep and r["keep"]:
            tp += 1
        elif not g.keep and r["keep"]:
            fp += 1
        elif g.keep and not r["keep"]:
            fn += 1
        if r["drop_reason"] != g.drop_reason:
            mismatches.append((g.url, g.drop_reason, r["drop_reason"]))
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert not mismatches[:10], mismatches[:10]
    assert f1 == 1.0, (f1, fp, fn)


def test_scrubbed_byte_identical(labeled, golden):
    bad = [
        (g.url, g.scrubbed_text, labeled[(g.url, g.warc_ts)]["scrubbed_text"])
        for g in golden
        if labeled[(g.url, g.warc_ts)]["scrubbed_text"] != g.scrubbed_text
    ]
    assert not bad[:5], bad[:5]


def test_every_defect_class_exercised(golden):
    reasons = {g.drop_reason for g in golden}
    for expected in (
        None,
        "missing_text",
        "too_short",
        "symbol_ratio",
        "repeated_lines",
        "boilerplate",
        "stopword_density",
        "lang",
        "perplexity",
        "dup_url",
        "dup_content",
    ):
        assert expected in reasons, f"fixture never produced {expected}"


def test_metrics_table(spark):
    df = pages_dataframe(spark, 500)
    m = quality_metrics(run_pipeline(df)).collect()
    reasons = {r["reason"]: r["docs"] for r in m}
    assert reasons.get("kept", 0) > 0
    assert sum(reasons.values()) > 500  # includes snapshot extras


def test_warm_plan_build_round_trips(spark):
    """The plan is built from Columns cached per config: a warm
    default-config build stays within a few hundred py4j round trips
    (rebuilding every Column per call made ~3k). The near-dup build is
    eager (signature checkpoint, one Arrow collect of the pairs) and
    builds its band keys in the signature kernel: it stays under 1,200
    (an 8-band JVM band-key expression and a Row-collecting CC made
    ~2,950). Only commands from this thread count: py4j's finalizer
    thread releases dead Java objects asynchronously, and its traffic
    depends on what earlier tests left behind."""
    import gc
    import threading

    import py4j.clientserver as cs

    from dataqualitykit_spark.config import DEFAULT_CONFIG, PipelineConfig

    df = pages_dataframe(spark, 200)
    send = cs.ClientServerConnection.send_command
    me = threading.get_ident()
    for cfg, bound in ((DEFAULT_CONFIG, 300), (PipelineConfig(dedup_near=True), 1200)):
        run_pipeline(df, cfg)  # warm: fills the per-config Column cache
        trips = 0

        def counting(self, command):
            nonlocal trips
            trips += threading.get_ident() == me
            return send(self, command)

        gc.collect()
        gc.disable()
        cs.ClientServerConnection.send_command = counting
        try:
            run_pipeline(df, cfg)
        finally:
            cs.ClientServerConnection.send_command = send
            gc.enable()
        assert 0 < trips <= bound, (cfg, trips)


def test_dataset_card(spark):
    """dataset_card unit golden: per-language docs, kept, kept/total words
    and keep rate."""
    rows = [
        # lang_pred, keep, n_words
        ("en", True, 10),
        ("en", True, 5),
        ("en", False, 7),
        ("de", False, 3),
        ("de", True, None),  # kept row with NULL n_words counts 0 words
    ]
    df = spark.createDataFrame(rows, "lang_pred string, keep boolean, n_words int")
    got = {r["lang_pred"]: r for r in dataset_card(df).collect()}
    assert (got["en"]["docs"], got["en"]["kept"], got["en"]["kept_words"],
            got["en"]["total_words"]) == (3, 2, 15, 22)
    assert got["en"]["keep_rate"] == round(2 / 3, 6)
    assert (got["de"]["docs"], got["de"]["kept"], got["de"]["kept_words"]) == (2, 1, 0)
