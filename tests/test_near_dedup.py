"""Near-dup dedup integrated into the pipeline keep/drop (VERDICT r1 #1):
MinHash-LSH pairs -> connected components -> canonical keep, others
drop_reason='dup_near'. Spark pipeline vs the pure-python oracle must
agree row-for-row when both use the md5-portable hash family.

Re-imagines reference merge_similar_records (QualityControl.py:2062-2073,
aspirational — blocking_columns undefined) as shuffle-parallel algebra.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataqualitykit_spark.config import PipelineConfig
from dataqualitykit_spark.fixtures import generate_pages, pages_dataframe
from dataqualitykit_spark.operators import dedup
from dataqualitykit_spark.oracle import run_oracle
from dataqualitykit_spark.pipeline import run_pipeline

CFG = PipelineConfig(dedup_near=True, near_dup_hash="md5")
N_PAGES = 600


def test_connected_components_basic(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 10)], "id_a int, id_b int"
    )
    comp = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10}


def test_connected_components_chain_converges(spark):
    # a 12-node path graph needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a int, id_b int"
    )
    comp = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 13


@pytest.fixture(scope="module")
def near_labeled(spark):
    df = pages_dataframe(spark, N_PAGES)
    rows = run_pipeline(df, CFG).select(
        "url", "warc_ts", "keep", "drop_reason"
    ).collect()
    return {(r["url"], r["warc_ts"]): r for r in rows}


@pytest.fixture(scope="module")
def near_golden():
    return run_oracle(generate_pages(N_PAGES), CFG)


def test_near_dedup_pipeline_matches_oracle(near_labeled, near_golden):
    mism = []
    for g in near_golden:
        r = near_labeled[(g.url, g.warc_ts)]
        if (r["keep"], r["drop_reason"]) != (g.keep, g.drop_reason):
            mism.append((g.url, g.drop_reason, r["drop_reason"]))
    assert not mism[:10], (len(mism), mism[:10])


def test_near_dup_class_detected(near_golden):
    from dataqualitykit_spark.fixtures.pages import _NEAR_DUP_BASE

    prefix = _NEAR_DUP_BASE.split()[:20]
    planted = [g for g in near_golden if g.text and g.text.split()[:20] == prefix]
    n_near = sum(1 for g in planted if g.drop_reason == "dup_near")
    kept = sum(1 for g in planted if g.keep)
    # the fixture plants a ~4% cluster: all but one canonical row (and any
    # rows lost earlier to url/content dedup) must drop as dup_near
    assert len(planted) >= 10
    assert kept == 1, kept
    assert n_near >= len(planted) - 1 - sum(
        1 for g in planted if g.drop_reason in ("dup_url", "dup_content")
    ) - 1, (n_near, len(planted))


def test_near_dedup_off_by_default(near_golden):
    golden_default = run_oracle(generate_pages(N_PAGES))
    assert all(g.drop_reason != "dup_near" for g in golden_default)


def test_connected_components_raises_on_max_iter_exhaustion(spark):
    # a 12-edge path needs ~11 propagation rounds; max_iter=2 double-rounds
    # (4 propagation rounds) must fail loudly, never return split labels.
    # contract_cap=0 forces the iterative fallback — the r7 contract path
    # would otherwise finish this chain exactly in one bounded collect.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a int, id_b int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2, contract_cap=0)


def test_connected_components_contract_matches_loop(spark):
    """The r7 contract-and-finish path (label-graph union-find) must give
    byte-identical components to the iterative loop on shapes the round-1
    fold does NOT finish: deep chains, a chain-of-cliques, and string ids
    (Spark's binary string ordering == python's — both code-point order)."""
    cases = [
        # 30-node path: worst case for label propagation
        [(i, i + 1) for i in range(30)],
        # two cliques bridged by a chain + an isolated pair
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(ii, ii + 1) for ii in range(4, 9)]
        + [(a, b) for a in range(8, 13) for b in range(a + 1, 13)]
        + [(100, 101)],
    ]
    for edges in cases:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        fast = {
            (r["id"], r["component"])
            for r in dedup.connected_components(pairs).collect()
        }
        loop = {
            (r["id"], r["component"])
            for r in dedup.connected_components(pairs, contract_cap=0).collect()
        }
        assert fast == loop and fast

    # string ids through both paths
    s_edges = [(f"u{i:03d}", f"u{i + 1:03d}") for i in range(20)] + [
        ("zzz", "aaa")
    ]
    pairs = spark.createDataFrame(s_edges, "id_a string, id_b string")
    fast = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    loop = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs, contract_cap=0).collect()
    }
    assert fast == loop and fast


def test_paragraph_scrub_pipeline_matches_oracle(spark):
    """cfg.dedup_paragraphs: repeated boilerplate lines vanish before the
    missing check, content dedup and scoring — engine and python oracle
    must agree row-for-row, including byte-identical scrubbed text and
    the mirror-collapse effect (two docs differing only in their nav bar
    become content duplicates once the nav bar is scrubbed)."""
    from datetime import datetime

    from dataqualitykit_spark.oracle import run_oracle

    base = datetime(2024, 1, 1)
    body = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "today while children play in the green park near the old river"
    )
    nav_a = "home | products | about us | contact"
    nav_b = "accept all cookies to continue"
    rows = []
    for i in range(6):
        rows.append(
            {
                "url": f"https://site{i}.example/page",
                "warc_ts": base,
                "text": f"{nav_a}\n{body} page {i}\n{nav_b}",
            }
        )
    # two docs identical except for WHICH nav line they carry: after the
    # scrub they are byte-identical -> content dedup keeps exactly one
    rows.append(
        {"url": "https://m1.example/x", "warc_ts": base, "text": f"{nav_a}\n{body} mirror"}
    )
    rows.append(
        {"url": "https://m2.example/x", "warc_ts": base, "text": f"{nav_b}\n{body} mirror"}
    )
    # a doc that is ONLY boilerplate: empties out -> missing_text
    rows.append({"url": "https://n.example/x", "warc_ts": base, "text": f"{nav_a}\n{nav_b}"})

    cfg = PipelineConfig(dedup_paragraphs=True, paragraph_min_repeats=3, salt_partitions=4)
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["text"]) for r in rows],
        "url string, warc_ts timestamp, text string",
    )
    got = {r["url"]: r for r in run_pipeline(df, cfg).collect()}
    want = run_oracle(rows, cfg)
    assert len(got) == len(want)
    for w in want:
        g = got[w.url]
        assert g["keep"] == w.keep, (w.url, g["drop_reason"], w.drop_reason)
        assert g["drop_reason"] == w.drop_reason, w.url
        assert g["scrubbed_text"] == w.scrubbed_text, w.url
    # the planted expectations themselves
    by_url = {w.url: w for w in want}
    assert by_url["https://n.example/x"].drop_reason == "missing_text"
    mirrors = [by_url["https://m1.example/x"], by_url["https://m2.example/x"]]
    assert sorted(m.drop_reason or "kept" for m in mirrors) == ["dup_content", "kept"]
    for i in range(6):
        w = by_url[f"https://site{i}.example/page"]
        assert w.keep, (w.url, w.drop_reason)
        assert nav_a not in (w.scrubbed_text or "") and nav_b not in (w.scrubbed_text or "")


def test_connected_components_accepts_convergence_on_final_iteration(spark):
    """A 12-edge path converges EXACTLY as max_iter=4 exhausts (verified by
    offline simulation of the propagate/shortcut schedule): `changed` is
    still >0 at the last iteration because it compares against the
    pre-iteration labels, but the returned labels are the true component
    minima. The post-loop zero-change verification round must accept this
    instead of raising a spurious 'did not converge'."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a int, id_b int"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs, max_iter=4).collect()
    }
    assert set(comp.values()) == {0}
    assert len(comp) == 13


def test_connected_components_deep_chain_log_rounds(spark):
    """Pointer doubling makes deep chains converge in O(log diameter)
    driver actions: a 100-edge path (diameter 100 — the old
    2-rounds-per-action schedule needed ~27 iterations) must finish
    within max_iter=8."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a int, id_b int"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs, max_iter=8).collect()
    }
    assert set(comp.values()) == {0}
    assert len(comp) == 101
