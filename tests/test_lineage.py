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
    bucketed copy; per-bucket reads partition-prune; no stage carries a
    forced broadcast hint."""
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

    # neither the resumable run nor the pipeline may force a broadcast
    # hint — grep the source, not the plan (AQE may legitimately pick
    # broadcast at runtime for small sets)
    import inspect

    import dataqualitykit_spark.lineage as L
    import dataqualitykit_spark.pipeline as P

    assert "F.broadcast" not in inspect.getsource(L.run_resumable)
    assert "F.broadcast" not in inspect.getsource(P.run_pipeline)


def test_metrics_table_matches_labeled_and_manifest(spark, four_bucket_root):
    """Per bucket, the metrics table's docs sum to the manifest row count,
    and each reason's docs, chars and avg_ppl equal quality_metrics over
    that reason's rows in labeled."""
    import math

    from dataqualitykit_spark.pipeline import quality_metrics

    root = four_bucket_root
    manifest = json.load(open(os.path.join(root, "manifest.json")))
    got = {
        (r["bucket_id"], r["reason"]): (r["docs"], r["chars"], r["avg_ppl"])
        for r in spark.read.parquet(f"{root}/metrics").collect()
    }
    labeled = spark.read.parquet(f"{root}/labeled")
    want = {
        (r["bucket_id"], r["reason"]): (r["docs"], r["chars"], r["avg_ppl"])
        for r in quality_metrics(labeled, by=["bucket_id"]).collect()
    }
    assert got.keys() == want.keys()
    for key, (docs, chars, ppl) in want.items():
        assert got[key][:2] == (docs, chars), key
        if ppl is None:
            assert got[key][2] is None, key
        else:
            assert math.isclose(got[key][2], ppl, rel_tol=1e-9), key
    assert len({reason for _, reason in got}) > 2
    for b in range(4):
        rows = sum(docs for (bucket, _), (docs, _, _) in got.items() if bucket == b)
        assert rows == manifest[str(b)]["rows"] > 0, b


def test_empty_bucket_records_zero_rows(spark, tmp_path):
    """A bucket that holds no rows writes no labeled files; it must still
    complete, record rows=0 in the manifest and add no metrics rows."""
    from pyspark.sql import functions as F

    src = pages_dataframe(spark, 3)
    n = src.count()
    held = {
        r["b"]
        for r in src.select(
            F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("b")
        ).collect()
    }
    assert 0 not in held, held  # precondition: bucket 0 is empty
    root = str(tmp_path / "sparse")
    run_resumable(spark, src, root, n_buckets=8)

    manifest = json.load(open(os.path.join(root, "manifest.json")))
    assert sorted(manifest, key=int) == [str(b) for b in range(8)]
    for b in range(8):
        assert (manifest[str(b)]["rows"] > 0) == (b in held), (b, manifest)
    assert sum(m["rows"] for m in manifest.values()) == n
    metric_buckets = {
        r["bucket_id"]
        for r in spark.read.parquet(f"{root}/metrics").select("bucket_id").collect()
    }
    assert metric_buckets == held
    partitions = sorted(os.listdir(f"{root}/labeled"))
    assert partitions == [f"bucket_id={b}" for b in sorted(held)]
    assert spark.read.parquet(f"{root}/labeled").count() == n


def test_cross_bucket_copies_get_the_oracle_labels(spark, tmp_path):
    """A text that a rule drops, with copies in two buckets: the later
    copy is dup_content before the scorer (NULL metric columns, never
    scored), and every content hash carries the same reason counts as
    one oracle pass over the whole input — no per-bucket allowance."""
    from collections import Counter
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from dataqualitykit_spark.fixtures import PAGES_SCHEMA, generate_pages
    from dataqualitykit_spark.oracle import run_oracle
    from dataqualitykit_spark.semantics import content_hash

    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    short = "too short to keep, copied across buckets"
    copies = [
        {"url": f"https://copy-{i}.example/a", "warc_ts": ts, "html": None,
         "text": short, "lang": "en"}
        for i in range(4)
    ]
    rows = generate_pages(160, seed=5) + copies
    src = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    bucket_of = {
        r["url"]: r["b"]
        for r in spark.createDataFrame(copies, schema=PAGES_SCHEMA)
        .select("url", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("b"))
        .collect()
    }
    assert len(set(bucket_of.values())) >= 2, bucket_of  # precondition

    root = str(tmp_path / "xb_content")
    run_resumable(spark, src, root, n_buckets=4)
    out = spark.read.parquet(f"{root}/labeled")

    first = min(bucket_of.values())
    got = {
        r["url"]: r
        for r in out.filter(F.col("url").startswith("https://copy-")).collect()
    }
    assert Counter(r["drop_reason"] for r in got.values()) == Counter(
        {"too_short": 1, "dup_content": 3}
    ), {u: r["drop_reason"] for u, r in got.items()}
    for url, r in got.items():
        if bucket_of[url] > first:
            assert r["drop_reason"] == "dup_content", (url, r["drop_reason"])
            assert r["scrubbed_text"] is None and r["n_chars"] is None, url

    want = Counter(
        (content_hash(r["text"] or ""), o.drop_reason)
        for r, o in zip(rows, run_oracle(rows))
    )
    labeled = Counter(
        (r["content_md5"], r["drop_reason"])
        for r in out.select("content_md5", "drop_reason").collect()
    )
    assert labeled == want


def _reason_counts(df):
    from collections import Counter

    return Counter(r["drop_reason"] or "kept" for r in df.select("drop_reason").collect())


def test_normalized_url_mirrors_share_a_bucket(spark, tmp_path):
    """Under cfg.normalize_urls the url window keys on normalize_url(url),
    so buckets must too: `#fragment` mirrors of a page land in its bucket
    and every reason count equals one run_pipeline pass."""
    from datetime import timedelta

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA, generate_pages
    from dataqualitykit_spark.pipeline import run_pipeline

    rows = generate_pages(200)
    mirrors = [
        dict(r, url=r["url"] + "#top", warc_ts=r["warc_ts"] + timedelta(days=1))
        for r in rows[::5]
    ]
    src = spark.createDataFrame(rows + mirrors, schema=PAGES_SCHEMA)
    cfg = PipelineConfig(normalize_urls=True)

    want = _reason_counts(run_pipeline(src, cfg))
    assert want["dup_url"] >= len(mirrors)
    root = str(tmp_path / "norm")
    run_resumable(spark, src, root, n_buckets=4, cfg=cfg)
    assert _reason_counts(spark.read.parquet(f"{root}/labeled")) == want


def _snapshot(root):
    """(size, mtime) of every file under root."""
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            files[os.path.relpath(p, root)] = (os.path.getsize(p), os.path.getmtime(p))
    return files


def test_resume_with_changed_bucketing_is_refused(spark, tmp_path):
    """A run killed after 1 of 4 buckets and resumed with another bucket
    count (or url key) would read the stored buckets under the new range
    and silently lose rows; it must raise before writing anything."""
    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.lineage import _config_digest

    src = pages_dataframe(spark, 120)
    root = str(tmp_path / "rebucket")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, root, n_buckets=4, fail_after=1)
    with open(os.path.join(root, "_bucketed_done")) as f:
        stored = json.load(f)
    assert stored == {
        "n_buckets": 4,
        "bucket_key": "url",
        "config": _config_digest(PipelineConfig()),
        "layout": "dedup+near",
        "schema": stored["schema"],
    }
    assert "`_pre` string" in stored["schema"], stored["schema"]

    before = _snapshot(root)
    assert any(k.startswith("labeled/bucket_id=") for k in before)
    with pytest.raises(ValueError, match="asks for {'n_buckets': 2"):
        run_resumable(spark, src, root, n_buckets=2)
    with pytest.raises(ValueError, match="'bucket_key': 'normalize_url'"):
        run_resumable(
            spark, src, root, n_buckets=4, cfg=PipelineConfig(normalize_urls=True)
        )
    assert _snapshot(root) == before


def test_cross_bucket_near_dedup_one_keeper(spark, tmp_path):
    """Planted near-dup clones whose urls hash into DIFFERENT buckets get
    exactly ONE keeper, run_pipeline's min-url one (the others drop as
    dup_near), and a killed+resumed run converges to the uninterrupted
    run's exact labels."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA
    from dataqualitykit_spark.fixtures.pages import _english_sentence
    from dataqualitykit_spark.pipeline import run_pipeline

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
    cfg = PipelineConfig(dedup_near=True)

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
    # the keeper is one run_pipeline pass's min-url keeper, and at least
    # one dup_near decision crossed a bucket boundary
    want = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in run_pipeline(src, cfg)
        .filter(F.col("url").startswith("https://ndclone-"))
        .select("url", "keep", "drop_reason")
        .collect()
    }
    assert {u: (k, dr) for u, (k, dr, _) in labels.items()} == want
    assert keepers == [min(labels)], labels
    keeper_bucket = labels[keepers[0]][2]
    assert any(b != keeper_bucket for _, _, b in labels.values())

    resumed = str(tmp_path / "xb_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, resumed, n_buckets=4, cfg=cfg, fail_after=2)
    run_resumable(spark, src, resumed, n_buckets=4, cfg=cfg)
    assert _labeled_set(spark, clean) == _labeled_set(spark, resumed)


def test_turning_near_dedup_on_at_resume_is_refused(spark, tmp_path):
    """Resuming with dedup_near=True over a store bucketed without it
    must fail loudly: its `_pre` carries no dup_near, so the remaining
    buckets would silently keep near duplicates. The config digest
    differs."""
    from dataqualitykit_spark.config import PipelineConfig

    src = pages_dataframe(spark, 120)
    root = str(tmp_path / "mix")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, root, n_buckets=2, fail_after=1)  # near OFF
    cfg = PipelineConfig(dedup_near=True)
    same_bucketing = "asks for {'n_buckets': 2, 'bucket_key': 'url', 'config'"
    with pytest.raises(ValueError, match=same_bucketing):
        run_resumable(spark, src, root, n_buckets=2, cfg=cfg)


def test_resume_with_changed_config_is_refused(spark, tmp_path):
    """A resume under another near_dup_threshold would label later
    buckets by another rule than the completed ones; it must raise
    before writing anything."""
    from dataqualitykit_spark.config import PipelineConfig

    src = pages_dataframe(spark, 60)
    root = str(tmp_path / "reconfig")
    cfg = PipelineConfig(dedup_near=True)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, src, root, n_buckets=2, cfg=cfg, fail_after=1)
    before = _snapshot(root)
    with pytest.raises(ValueError, match="n_buckets and config"):
        changed = PipelineConfig(dedup_near=True, near_dup_threshold=0.7)
        run_resumable(spark, src, root, n_buckets=2, cfg=changed)
    assert _snapshot(root) == before


def test_blocked_rows_sign_nothing_for_later_buckets(spark, tmp_path):
    """A blocked row never enters run_pipeline's near-dup pass, so its
    signature must not knock out a near-identical keepable doc in a later
    bucket: run_resumable keeps what one run_pipeline pass keeps."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA
    from dataqualitykit_spark.fixtures.pages import _english_sentence
    from dataqualitykit_spark.pipeline import run_pipeline

    text = _english_sentence(random.Random(7), 120)
    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    src = spark.createDataFrame(
        [
            {"url": url, "warc_ts": ts, "html": None, "text": text + tail, "lang": "en"}
            for url, tail in (
                ("https://blocked.example/doc", " tailword0"),
                ("https://good-0.example/x", " tailword1"),
            )
        ],
        schema=PAGES_SCHEMA,
    )
    bucket_of = {
        r["url"]: r["b"]
        for r in src.select(
            "url", F.pmod(F.xxhash64("url"), F.lit(2)).cast("int").alias("b")
        ).collect()
    }
    assert bucket_of == {
        "https://blocked.example/doc": 0,
        "https://good-0.example/x": 1,
    }
    cfg = PipelineConfig(dedup_near=True, blocklist=("blocked.example",))
    want = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in run_pipeline(src, cfg).select("url", "keep", "drop_reason").collect()
    }
    assert want == {
        "https://blocked.example/doc": (False, "blocked_domain"),
        "https://good-0.example/x": (True, None),
    }
    root = str(tmp_path / "blocked")
    run_resumable(spark, src, root, n_buckets=2, cfg=cfg)
    got = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in spark.read.parquet(f"{root}/labeled")
        .select("url", "keep", "drop_reason")
        .collect()
    }
    assert got == want


def test_cross_bucket_near_dedup_with_paragraph_scrub(spark, tmp_path):
    """Under dedup_paragraphs the near stage signs the post-scrub text,
    the text content_md5 hashes: near-dup clones behind a boilerplate
    line the scrub removes, with urls in both buckets, keep ONE doc
    overall, not one per bucket."""
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
    cfg = PipelineConfig(dedup_near=True, dedup_paragraphs=True)
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


_CONTRACT = ("url", "warc_ts", "keep", "drop_reason", "scrubbed_text", "content_md5")


def _contract_rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.select(*_CONTRACT).collect())


def _planted_copies():
    """Two groups of three copies. In each, the min-url copy (the one a
    single pass keeps) hashes to a later bucket than another copy, for
    3 and for 5 buckets, so a first-seen keeper would differ."""
    import random
    from datetime import datetime, timezone

    from dataqualitykit_spark.fixtures.pages import _english_sentence

    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    texts = {0: _english_sentence(random.Random(3), 120), 2: "short copied text"}
    return [
        {"url": f"https://plant-{g}-{i}.example/p", "warc_ts": ts, "html": None,
         "text": text, "lang": "en"}
        for g, text in texts.items()
        for i in range(3)
    ]


@pytest.mark.parametrize(
    "opts",
    [{}, {"dedup_paragraphs": True}, {"dedup_near": True}],
    ids=["default", "dedup_paragraphs", "dedup_near"],
)
def test_resumable_equals_single_pass(spark, tmp_path, opts):
    """run_resumable labels every row as one run_pipeline pass does —
    including which copy of a duplicate is kept — for 1, 3 and 5 buckets
    and after a kill following bucket 1 and a resume."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.fixtures import PAGES_SCHEMA, generate_pages
    from dataqualitykit_spark.pipeline import run_pipeline

    planted = _planted_copies()
    src = spark.createDataFrame(generate_pages(200) + planted, schema=PAGES_SCHEMA)
    for n in (3, 5):  # precondition: the min-url copy sits in a later bucket
        b = {
            r["url"]: r["b"]
            for r in spark.createDataFrame(planted, schema=PAGES_SCHEMA)
            .select("url", F.pmod(F.xxhash64("url"), F.lit(n)).alias("b"))
            .collect()
        }
        for g in (0, 2):
            group = [b[f"https://plant-{g}-{i}.example/p"] for i in range(3)]
            assert group[0] > min(group), (n, g, group)

    cfg = PipelineConfig(**opts)
    want = _contract_rows(run_pipeline(src, cfg))
    if cfg.dedup_near:  # not vacuous: the single pass drops near copies
        assert any(row[3] == "dup_near" for row in want), want

    def check(root, n):
        got = _contract_rows(spark.read.parquet(f"{root}/labeled"))
        diff = (got - want) + (want - got)
        assert not diff, (n, len(diff), list(diff)[:4])

    for n in (1, 3):
        root = str(tmp_path / f"b{n}")
        run_resumable(spark, src, root, n_buckets=n, cfg=cfg)
        check(root, n)
    root = str(tmp_path / "b5")
    with pytest.raises(RuntimeError, match="injected failure after bucket 0"):
        run_resumable(spark, src, root, n_buckets=5, cfg=cfg, fail_after=1)
    run_resumable(spark, src, root, n_buckets=5, cfg=cfg)
    check(root, 5)


def test_torn_bucket_is_rewritten_once(spark, four_bucket_root, tmp_path):
    """A bucket whose files were written but whose manifest entry was not
    (a kill between the two) is redone on resume: its metrics rows appear
    exactly once and its labeled rows do not change."""
    import math
    import shutil

    root = str(tmp_path / "torn")
    shutil.copytree(four_bucket_root, root)

    def metrics():
        out = {}
        for r in spark.read.parquet(f"{root}/metrics").collect():
            out.setdefault((r["bucket_id"], r["reason"]), []).append(r)
        return out

    def labeled():
        return sorted(map(repr, spark.read.parquet(f"{root}/labeled").collect()))

    metrics_before, labeled_before = metrics(), labeled()
    manifest_path = os.path.join(root, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    torn = manifest.pop("3")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)

    run_resumable(spark, pages_dataframe(spark, 200), root, n_buckets=4)

    with open(manifest_path) as f:
        assert json.load(f)["3"]["rows"] == torn["rows"]
    after = metrics()
    assert after.keys() == metrics_before.keys()
    assert any(b == 3 for b, _ in after)
    for key, rows in after.items():
        assert len(rows) == 1, key
        (got,), (was,) = rows, metrics_before[key]
        assert (got["docs"], got["chars"]) == (was["docs"], was["chars"]), key
        if was["avg_ppl"] is None:
            assert got["avg_ppl"] is None, key
        else:
            assert math.isclose(got["avg_ppl"], was["avg_ppl"], rel_tol=1e-9), key
    assert labeled() == labeled_before


def test_store_of_an_older_layout_is_refused(spark, tmp_path):
    """A store of an older layout must be refused before anything is
    written: one bucketed from the raw source (no `_pre` column, a
    marker without a layout tag) cannot be scored by bucket, and a near
    store of the "dedup" layout has a `_pre` without dup_near, so its
    buckets would keep near duplicates under a matching config digest."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark.config import PipelineConfig
    from dataqualitykit_spark.lineage import _config_digest
    from dataqualitykit_spark.pipeline import dedup

    src = pages_dataframe(spark, 40)
    raw = src.select("url", "warc_ts", "text", "lang")
    # (layout tag, config, stored rows): the "dedup" store left near-dup
    # to the buckets
    for layout, cfg, stored in (
        (None, PipelineConfig(), raw),
        ("dedup", PipelineConfig(dedup_near=True), dedup(src, PipelineConfig())),
    ):
        root = str(tmp_path / f"older_{layout}")
        (
            stored.withColumn("_bucket", F.pmod(F.xxhash64("url"), F.lit(2)).cast("int"))
            .write.partitionBy("_bucket")
            .parquet(f"{root}/bucketed")
        )
        marker = {"n_buckets": 2, "bucket_key": "url", "config": _config_digest(cfg)}
        if layout is not None:
            marker["layout"] = layout
        with open(os.path.join(root, "_bucketed_done"), "w") as f:
            json.dump(marker, f)
        before = _snapshot(root)
        with pytest.raises(ValueError, match=f"'layout': {layout!r}"):
            run_resumable(spark, src, root, n_buckets=2, cfg=cfg)
        assert _snapshot(root) == before


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


def test_failed_bucket_leaves_no_partition_and_resumes(
    spark, four_bucket_root, tmp_path, monkeypatch
):
    """Bucket 1 of 4 fails after its labeled write while bucket 0 is in
    flight beside it: the failure propagates, the buckets already
    submitted drain and are marked, and bucket 1 leaves neither a visible
    partition nor a manifest entry. Hidden temp directories (bucket 1's,
    and a stale one holding a junk file) are invisible to readers, and a
    plain resume replaces them and equals the uninterrupted run."""
    from dataqualitykit_spark import lineage

    src = pages_dataframe(spark, 200)
    root = str(tmp_path / "failed")
    labeled = os.path.join(root, "labeled")
    stale = os.path.join(labeled, ".bucket_id=2.tmp")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "w") as f:
        f.write("not parquet")

    write_metrics = lineage._write_metrics

    def failing(metrics_root, b, got):
        if b == 1:
            raise OSError("no space left writing metrics of bucket 1")
        return write_metrics(metrics_root, b, got)

    monkeypatch.setattr(lineage, "_write_metrics", failing)
    with pytest.raises(OSError, match="bucket 1"):
        run_resumable(spark, src, root, n_buckets=4)
    monkeypatch.undo()

    manifest_path = os.path.join(root, "manifest.json")
    before = json.load(open(manifest_path))
    assert "0" in before and "1" not in before, before
    visible = {n for n in os.listdir(labeled) if not n.startswith((".", "_"))}
    assert visible == {f"bucket_id={b}" for b in before}
    assert os.path.isdir(os.path.join(labeled, ".bucket_id=1.tmp"))
    read = spark.read.parquet(labeled).select("bucket_id").distinct().collect()
    assert {r[0] for r in read} == {int(b) for b in before}

    run_resumable(spark, src, root, n_buckets=4)
    after = json.load(open(manifest_path))
    assert sorted(after) == ["0", "1", "2", "3"]
    for b in before:  # the drained buckets were not redone
        assert after[b] == before[b]
    assert all(m["seconds"] > 0 for m in after.values()), after
    assert [n for n in os.listdir(labeled) if n.startswith(".")] == []
    assert _labeled_set(spark, four_bucket_root) == _labeled_set(spark, root)


def test_run_jobs_carry_the_callers_group_and_their_stage(spark, tmp_path):
    """Every job of a run joins the caller's job group (so cancelJobGroup
    cancels the run) and names its stage — bucketize, or the bucket it
    scores — while the caller's own description is back once the run
    returns."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    tracker = sc.statusTracker()

    def settled_ids(group):
        jvm_sc.listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    def description(job_id):
        d = jvm_sc.statusStore().job(job_id).description()
        return d.get() if d.isDefined() else None

    ungrouped = settled_ids(None)
    first = max(ungrouped, default=-1) + 1
    sc.setJobGroup("g", "caller stage")
    try:
        src = pages_dataframe(spark, 120)
        run_resumable(spark, src, str(tmp_path / "o"), n_buckets=4)
        assert sc.getLocalProperty("spark.job.description") == "caller stage"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    grouped = settled_ids("g")
    assert {j for j in settled_ids(None) if j >= first} == set()
    assert grouped and min(grouped) >= first
    stages = {description(j) for j in grouped}
    assert stages == {
        "run_resumable: bucketize",
        *(f"run_resumable: bucket {b}" for b in range(4)),
    }, stages


def test_manifest_marks_from_many_threads(tmp_path):
    """Manifest.mark from more threads than cores, switching threads
    every microsecond, loses no entry and raises in none of them."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from dataqualitykit_spark.lineage import Manifest

    path = str(tmp_path / "manifest.json")
    manifest = Manifest(path)

    def mark(t):
        for i in range(25):
            manifest.mark(t * 25 + i, rows=i, seconds=0.001)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(mark, t) for t in range(16)]
            for f in futures:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert Manifest(path).completed() == set(range(400))
