"""Resume contract (BASELINE.md): kill after bucket k, restart, verify no
bucket reprocessed and final output equals an uninterrupted run."""

from __future__ import annotations

import json
import os

import pytest

from dataqualitykit_spark.fixtures import pages_dataframe
from dataqualitykit_spark.lineage import run_resumable


def _labeled_set(spark, root):
    rows = (
        spark.read.parquet(f"{root}/labeled")
        .select("url", "warc_ts", "keep", "drop_reason", "scrubbed_text")
        .collect()
    )
    return {
        (r["url"], r["warc_ts"]): (r["keep"], r["drop_reason"], r["scrubbed_text"])
        for r in rows
    }


def test_kill_and_resume_matches_uninterrupted(spark, tmp_path):
    src = pages_dataframe(spark, 400)

    clean_root = str(tmp_path / "clean")
    run_resumable(spark, src, clean_root, n_buckets=4)

    resumed_root = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, resumed_root, n_buckets=4, fail_after=2)

    manifest_path = os.path.join(resumed_root, "manifest.json")
    before = json.load(open(manifest_path))
    assert len(before) == 2

    run_resumable(spark, src, resumed_root, n_buckets=4)
    after = json.load(open(manifest_path))
    assert len(after) == 4
    # completed buckets were NOT reprocessed (timestamps unchanged)
    for b in before:
        assert after[b]["completed_at"] == before[b]["completed_at"]

    assert _labeled_set(spark, clean_root) == _labeled_set(spark, resumed_root)


@pytest.fixture(scope="module")
def four_bucket_root(spark, tmp_path_factory):
    """One uninterrupted 4-bucket run over 200 fixture pages."""
    root = str(tmp_path_factory.mktemp("four_buckets") / "out")
    run_resumable(spark, pages_dataframe(spark, 200), root, n_buckets=4)
    return root


def test_bucketed_input_written_once_and_pruned(spark, four_bucket_root):
    """Scale contract: the source is scanned ONCE into a partitioned
    bucketed copy; per-bucket reads partition-prune; the cross-bucket
    dedup join carries no forced broadcast hint."""
    root = four_bucket_root

    # partitioned layout on disk, html column projected away
    bdirs = sorted(
        d for d in os.listdir(f"{root}/bucketed") if d.startswith("_bucket=")
    )
    assert bdirs == [f"_bucket={b}" for b in range(4)]
    bucketed = spark.read.parquet(f"{root}/bucketed")
    assert "html" not in bucketed.columns

    # per-bucket read prunes on the partition column
    from pyspark.sql import functions as F

    plan = (
        bucketed.filter(F.col("_bucket") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters")[1][:120]

    # the dedup join in lineage.py must not force a broadcast hint — grep
    # the source, not the plan (AQE may legitimately pick broadcast at
    # runtime for small sets)
    import inspect

    import dataqualitykit_spark.lineage as L

    assert "F.broadcast" not in inspect.getsource(L.run_resumable)


def test_metrics_table_matches_labeled_and_manifest(spark, four_bucket_root):
    """Per bucket, the metrics table's docs sum to the manifest row count
    and each reason's docs equal that reason's row count in labeled."""
    from pyspark.sql import functions as F

    root = four_bucket_root
    manifest = json.load(open(os.path.join(root, "manifest.json")))
    got = {
        (r["bucket_id"], r["reason"]): r["docs"]
        for r in spark.read.parquet(f"{root}/metrics").collect()
    }
    want = {
        (r["bucket_id"], r["reason"]): r["count"]
        for r in spark.read.parquet(f"{root}/labeled")
        .groupBy(
            "bucket_id",
            F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason"),
        )
        .count()
        .collect()
    }
    assert got == want
    assert len({reason for _, reason in got}) > 2
    for b in range(4):
        rows = sum(docs for (bucket, _), docs in got.items() if bucket == b)
        assert rows == manifest[str(b)]["rows"] > 0, b


def test_cross_bucket_near_dedup_one_keeper(spark, tmp_path):
    """Planted near-dup clones whose urls hash into DIFFERENT buckets get
    exactly ONE keeper (the others drop as dup_near via the persisted-
    signature prior-join), and a killed+resumed run converges to the
    uninterrupted run's exact labels."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA
    from dataqualitykit_spark.fixtures.pages import _english_sentence

    base_text = _english_sentence(random.Random(7), 120)
    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    clones = [
        {
            "url": f"https://ndclone-{i}.example/page",
            "warc_ts": ts,
            "html": None,
            # one appended word: 3-shingle Jaccard ~0.98 between any two
            "text": base_text + f" tailword{i}",
            "lang": "en",
        }
        for i in range(6)
    ]
    planted = spark.createDataFrame(clones, schema=PAGES_SCHEMA)
    # precondition (deterministic — xxhash64 is fixed): the planted urls
    # must span >=2 url-hash buckets or the test would not exercise the
    # cross-bucket path at all
    bucket_of = {
        r["url"]: r["b"]
        for r in planted.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("b")
        ).collect()
    }
    assert len(set(bucket_of.values())) >= 2, bucket_of

    src = pages_dataframe(spark, 150, seed=9).unionByName(planted)
    cfg = PipelineConfig(dedup_near=True, near_dup_hash="md5")

    clean = str(tmp_path / "xb_clean")
    run_resumable(spark, src, clean, n_buckets=4, cfg=cfg)
    labels = {
        r["url"]: (r["keep"], r["drop_reason"], r["bucket_id"])
        for r in spark.read.parquet(f"{clean}/labeled")
        .filter(F.col("url").startswith("https://ndclone-"))
        .select("url", "keep", "drop_reason", "bucket_id")
        .collect()
    }
    assert len(labels) == 6
    keepers = [u for u, (k, _, _) in labels.items() if k]
    assert len(keepers) == 1, labels
    assert all(dr == "dup_near" for u, (k, dr, _) in labels.items() if not k), labels
    # greedy first-seen: the keeper lives in the EARLIEST bucket holding a
    # clone, and at least one dup_near decision crossed a bucket boundary
    keeper_bucket = labels[keepers[0]][2]
    assert keeper_bucket == min(b for _, _, b in labels.values())
    assert any(b != keeper_bucket for _, _, b in labels.values())

    resumed = str(tmp_path / "xb_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, resumed, n_buckets=4, cfg=cfg, fail_after=2)
    run_resumable(spark, src, resumed, n_buckets=4, cfg=cfg)
    assert _labeled_set(spark, clean) == _labeled_set(spark, resumed)


def test_lineage_with_near_dedup(spark, tmp_path):
    """cfg.dedup_near composes with the bucketed runner: near-dups within
    a bucket drop as dup_near, and kill/resume still converges."""
    from dataqualitykit_spark.config import PipelineConfig

    cfg = PipelineConfig(dedup_near=True, near_dup_hash="md5")
    src = pages_dataframe(spark, 300)
    clean = str(tmp_path / "nd_clean")
    run_resumable(spark, src, clean, n_buckets=2, cfg=cfg)

    resumed = str(tmp_path / "nd_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, resumed, n_buckets=2, cfg=cfg, fail_after=1)
    run_resumable(spark, src, resumed, n_buckets=2, cfg=cfg)

    assert _labeled_set(spark, clean) == _labeled_set(spark, resumed)
    reasons = {
        r["drop_reason"]
        for r in spark.read.parquet(f"{clean}/labeled").select("drop_reason").collect()
    }
    assert "dup_near" in reasons


def test_near_dedup_resume_requires_sig_store(spark, tmp_path):
    """Resuming with dedup_near=True over buckets completed WITHOUT a
    signature store must fail loudly (silently skipping cross-bucket
    near-dedup would mislabel)."""
    from dataqualitykit_spark.config import PipelineConfig

    src = pages_dataframe(spark, 120)
    root = str(tmp_path / "mix")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, root, n_buckets=2, fail_after=1)  # near OFF
    cfg = PipelineConfig(dedup_near=True, near_dup_hash="md5")
    with pytest.raises(RuntimeError, match="near_sigs"):
        run_resumable(spark, src, root, n_buckets=2, cfg=cfg)


def test_cross_bucket_near_dedup_with_paragraph_scrub(spark, tmp_path):
    """ADVICE r3: run_pipeline computes content_md5 AFTER the opt-in
    paragraph scrub, so the cross-bucket near-dedup text recovery must
    scrub the raw bucket text the same way before hashing. Under the old
    code every scrubbed doc's hash mismatched, it silently got no MinHash
    signature, and cross-bucket clusters kept one doc PER BUCKET instead
    of one overall."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA
    from dataqualitykit_spark.fixtures.pages import _english_sentence

    rng = random.Random(11)
    boiler = "accept cookies to continue reading this site"
    base_text = _english_sentence(rng, 120)
    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    clones = [
        {
            "url": f"https://ndclone-{i}.example/page",
            "warc_ts": ts,
            "html": None,
            # boilerplate first line forces the scrub to REWRITE the text
            # (and thus shift content_md5) before signatures are taken
            "text": boiler + "\n" + base_text + f" tailword{i}",
            "lang": "en",
        }
        for i in range(6)
    ]
    # carrier docs make the boilerplate line repeat (min_repeats=2) inside
    # EVERY bucket, so each clone is scrubbed wherever it hashes
    carriers = [
        {
            "url": f"https://carrier-{i}.example/page",
            "warc_ts": ts,
            "html": None,
            "text": boiler + "\n" + _english_sentence(random.Random(100 + i), 120),
            "lang": "en",
        }
        for i in range(8)
    ]
    planted = spark.createDataFrame(clones + carriers, schema=PAGES_SCHEMA)
    bucket_of = {
        r["url"]: r["b"]
        for r in planted.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(2)).cast("int").alias("b")
        ).collect()
    }
    clone_buckets = {bucket_of[c["url"]] for c in clones}
    assert len(clone_buckets) == 2, bucket_of  # clones span both buckets
    for b in clone_buckets:  # boilerplate repeats within each bucket
        assert sum(1 for v in bucket_of.values() if v == b) >= 2, bucket_of

    src = pages_dataframe(spark, 150, seed=13).unionByName(planted)
    cfg = PipelineConfig(
        dedup_near=True, near_dup_hash="md5", dedup_paragraphs=True
    )
    root = str(tmp_path / "pscrub_xb")
    run_resumable(spark, src, root, n_buckets=2, cfg=cfg)

    out = (
        spark.read.parquet(f"{root}/labeled")
        .filter(F.col("url").startswith("https://ndclone-"))
        .select("url", "keep", "drop_reason", "scrubbed_text")
        .collect()
    )
    assert len(out) == 6
    keepers = [r for r in out if r["keep"]]
    assert len(keepers) == 1, [(r["url"], r["drop_reason"]) for r in out]
    assert all(
        r["drop_reason"] in ("dup_near", "dup_content") for r in out if not r["keep"]
    ), [(r["url"], r["drop_reason"]) for r in out]
    # the scrub really ran: boilerplate is gone from the kept text
    assert boiler not in (keepers[0]["scrubbed_text"] or "")


def test_run_resumable_rejects_global_token_budget(spark, tmp_path):
    """cfg.token_budget is a GLOBAL quota — applied per bucket it would
    multiply by n_buckets; run_resumable must refuse and point at the
    post-compaction path."""
    import pytest

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import pages_dataframe
    from dataqualitykit_spark.lineage import run_resumable

    cfg = PipelineConfig(token_budget=1000)
    with pytest.raises(ValueError, match="global"):
        run_resumable(spark, pages_dataframe(spark, 20), str(tmp_path / "o"), cfg=cfg)
