"""Near-dup dedup integrated into the pipeline keep/drop (VERDICT r1 #1):
MinHash-LSH pairs -> connected components -> canonical keep, others
drop_reason='dup_near'. Spark pipeline vs the pure-python oracle must
agree row-for-row on the xxhash64 MinHash family the pipeline runs.

Re-imagines reference merge_similar_records (QualityControl.py:2062-2073,
aspirational — blocking_columns undefined) as shuffle-parallel algebra.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataqualitykit_spark.config import PipelineConfig
from dataqualitykit_spark.fixtures import generate_pages, pages_dataframe
from dataqualitykit_spark.operators import dedup
from dataqualitykit_spark.operators.dedup import hamming_dup_pairs
from dataqualitykit_spark.oracle import run_oracle
from dataqualitykit_spark.pipeline import run_pipeline

CFG = PipelineConfig(dedup_near=True)
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
    # contract_cap=0 forces the iterative fallback — the driver and
    # contract paths would otherwise finish this chain exactly in one
    # bounded collect.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a int, id_b int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2, contract_cap=0)


def _components_and_path(monkeypatch, pairs, **kw):
    """(components as a set, path taken). The path shows in how many
    localCheckpoints the call makes: the driver path none, the contract
    path two (edges, round-1 labels), the loop more."""
    cls = type(pairs)  # the classic DataFrame that implements it
    real = cls.localCheckpoint
    calls = []

    def counting(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(cls, "localCheckpoint", counting)
        comp = dedup.connected_components(pairs, **kw).collect()
    comp = {(r["id"], r["component"]) for r in comp}
    path = {0: "driver", 2: "contract"}.get(len(calls), "loop")
    return comp, path


def test_connected_components_contract_matches_loop(spark, monkeypatch):
    """The three paths — driver (numpy over the collected pair list), the
    contract path (label-graph collect) and the iterative loop — give
    identical components on shapes the round-1 fold does NOT finish:
    a deep chain, a chain-of-cliques, and string ids (Spark's binary
    string ordering == Arrow's byte order == python's code-point order).
    Each contract cap sits below the pair count and at or above the
    label-graph size (one direction per label edge)."""
    cases = [
        # 30-node path: worst case for label propagation; 30 pairs, 29
        # label edges
        ([(i, i + 1) for i in range(30)], "id_a long, id_b long", 29),
        # two cliques bridged by a chain + an isolated pair: 26 pairs
        # (one repeated), 5 label edges
        (
            [(a, b) for a in range(5) for b in range(a + 1, 5)]
            + [(ii, ii + 1) for ii in range(4, 9)]
            + [(a, b) for a in range(8, 13) for b in range(a + 1, 13)]
            + [(100, 101)],
            "id_a long, id_b long",
            5,
        ),
        # string ids: 21 pairs, 19 label edges
        (
            [(f"u{i:03d}", f"u{i + 1:03d}") for i in range(20)] + [("zzz", "aaa")],
            "id_a string, id_b string",
            20,
        ),
    ]
    for edges, ddl, cap in cases:
        pairs = spark.createDataFrame(edges, ddl)
        assert cap < len(edges)
        driver, p1 = _components_and_path(monkeypatch, pairs)
        contract, p2 = _components_and_path(monkeypatch, pairs, contract_cap=cap)
        loop, p3 = _components_and_path(monkeypatch, pairs, contract_cap=0)
        assert (p1, p2, p3) == ("driver", "contract", "loop"), ddl
        assert driver == contract == loop and driver, ddl
        parent = {}  # python min-root union-find reference

        def root(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        assert driver == {(x, root(x)) for x in list(parent)}, ddl


def test_connected_components_cap_boundary(spark, monkeypatch):
    """Exactly `contract_cap` pairs stay on the driver path; one more
    pair takes the distributed path, with the same components."""
    edges = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    at_cap, path = _components_and_path(monkeypatch, pairs, contract_cap=10)
    assert path == "driver"
    over, path = _components_and_path(monkeypatch, pairs, contract_cap=9)
    assert path != "driver"
    assert at_cap == over == {(i, 0) for i in range(11)}


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


def test_hamming_dup_pairs_pigeonhole(spark):
    # planted codes at known hamming distances from a base code: the
    # banded join must find every pair within max_hamming and verify
    # the exact distance, and must NOT return pairs past the bound
    ubase = 0x8123456789ABCDEF  # bit 63 set -> exercises the sign bit

    def signed(u: int) -> int:
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = [(0, signed(ubase))]
    # flip the k LOWEST bits -> hamming k from base (flips on the
    # UNSIGNED value; python XOR on the negative signed form widens)
    for k in (1, 4, 8, 9, 20):
        rows.append((k, signed(ubase ^ ((1 << k) - 1))))
    df = spark.createDataFrame(rows, "id long, code long")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_dup_pairs(df, "code", "id", max_hamming=8).collect()
    }
    # base vs k-flip pairs within the bound
    assert pairs[(0, 1)] == 1
    assert pairs[(0, 4)] == 4
    assert pairs[(0, 8)] == 8
    assert (0, 9) not in pairs and (0, 20) not in pairs
    # flip-vs-flip: (1,4) differ in bits 1..3 -> hamming 3, etc.
    assert pairs[(1, 4)] == 3
    assert pairs[(4, 8)] == 4


def test_null_text_docs_never_pair(spark):
    """An all-NULL signature bands to one key in every band: 40 NULL-text
    docs must not become 780 candidate pairs, on either hash family."""
    base = " ".join(f"word{i}" for i in range(60))
    rows = [(i, None) for i in range(40)]
    rows += [(100, base + " alpha"), (101, base + " beta")]
    df = spark.createDataFrame(rows, "id int, text string")
    for fn in (dedup.minhash_jaccard, dedup.minhash_jaccard_portable):
        pairs = sorted((r["id_a"], r["id_b"]) for r in fn(df, "text", "id").collect())
        assert pairs == [(100, 101)], (fn.__name__, len(pairs))
