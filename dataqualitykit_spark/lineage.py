"""Resumable per-partition lineage (BASELINE.json north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

The input is split into B deterministic url-hash buckets
(pmod(xxhash64(url), B) — the same salted key that defuses domain skew;
the url window's key normalize_url(url) under cfg.normalize_urls, so
mirrors of one page share a bucket and its url window) in ONE pass: the
bucketed input is written once, partitioned by _bucket, and every
per-bucket read afterwards partition-prunes to a single directory.
(Round 1 filtered the original source per bucket — B full input scans;
at 100 TB with B=8 that is 800 TB of read.)

Each bucket is processed and appended to the output table, then its id is
recorded in a JSON manifest. A restart skips completed buckets, so a run
killed after bucket k reprocesses nothing and converges to the same table
as an uninterrupted run.

Content-dedup across buckets stays exact: before deciding dup_content, the
current bucket is LEFT-JOINED (plain shuffled equi-join on content_md5 —
NOT broadcast: the kept-hash set is the MAJORITY of the corpus at scale,
billions of md5s; AQE may still choose broadcast when the set is actually
small) against the hashes already written by COMPLETED buckets. Within a
bucket the window dedup applies as usual; across buckets the manifest
state substitutes for a global shuffle.

NEAR-dup dedup spans buckets the same way (cfg.dedup_near): each bucket
persists the MinHash signatures of its near-dedup participants (exact-dedup
survivors — kept, quality-dropped and near-dropped rows alike, so
transitive chains propagate) to a `near_sigs` table partitioned by
bucket_id; before finalizing bucket b, its participants' signatures
band-join (dedup.minhash_jaccard_cross) against completed buckets'
signatures, and any row whose estimated Jaccard against a prior doc clears
cfg.near_dup_threshold is relabeled drop_reason='dup_near'. Semantics are
GREEDY FIRST-SEEN in bucket order (the prior doc always wins), which is
deterministic across kill/resume because bucket order is fixed and resume
skips completed buckets — an interrupted run converges to the
uninterrupted run's exact labels. (A single global run_pipeline instead
picks the min-url doc of each connected component as keeper, so WHICH
member of a cross-bucket cluster is kept can differ between the global and
bucketed shapes; each shape is internally deterministic.)
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .functions import text as T
from .pipeline import quality_metrics, run_pipeline
from .sources import TableIO


class Manifest:
    """JSON checkpoint manifest: {bucket_id: {rows, completed_at}}."""

    def __init__(self, path: str):
        self.path = path
        self.state: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    def completed(self) -> set[int]:
        return {int(k) for k in self.state}

    def mark(self, bucket: int, rows: int) -> None:
        self.state[str(bucket)] = {
            "rows": rows,
            "completed_at": datetime.now(timezone.utc).isoformat(),
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1)
        os.replace(tmp, self.path)


def run_resumable(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_buckets: int = 8,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fail_after: int | None = None,
) -> Manifest:
    """Process `source` in url-hash buckets, appending labeled output +
    metrics per bucket; resume skips completed buckets.

    fail_after=k raises after k buckets (test hook for the kill/resume
    contract).
    """
    if cfg.token_budget is not None:
        # the budget is a GLOBAL per-group quota; applied inside each
        # bucket it would multiply by n_buckets. Run it as a
        # post-compaction pass instead (sample_to_token_budget over the
        # final labeled keeps).
        raise ValueError(
            "cfg.token_budget is global — clear it for run_resumable and "
            "apply sampling.sample_to_token_budget to the compacted "
            "labeled table instead"
        )
    io = TableIO(spark, out_root, fmt="parquet")
    os.makedirs(out_root, exist_ok=True)
    manifest = Manifest(os.path.join(out_root, "manifest.json"))
    done = manifest.completed()

    # ONE source scan: materialize the bucketed input partitioned by
    # _bucket, then every per-bucket read below prunes to one partition
    # directory (PartitionFilters on _bucket). The marker file makes the
    # stage idempotent across restarts — a resume never re-scans the
    # source, matching the north rule's "resumable mid-table". It records
    # how the rows were bucketed: a resume that would bucket differently
    # would loop over buckets the stored input does not have, so it is
    # refused before anything is written.
    bucketed_path = io._path("bucketed")
    marker = os.path.join(out_root, "_bucketed_done")
    bucketing = {
        "n_buckets": n_buckets,
        "bucket_key": "normalize_url" if cfg.normalize_urls else "url",
    }
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        if stored != bucketing:
            raise ValueError(
                f"run_resumable: {out_root} was bucketed as {stored}, this "
                f"call asks for {bucketing} — resume with the original "
                "n_buckets/normalize_urls or restart with a fresh out_root"
            )
    else:
        # bucket on the url window's key, so every row one url window
        # compares lands in the same bucket
        key = T.normalize_url(F.col("url")) if cfg.normalize_urls else F.col("url")
        # project the pipeline's columns only — never rewrite `html`
        # page bytes into the bucketed copy
        keep = [c for c in ("url", "warc_ts", "text", "lang") if c in source.columns]
        (
            source.select(*keep)
            .withColumn(
                "_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
            )
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(bucketed_path)
        )
        with open(marker, "w") as f:
            json.dump(bucketing, f)
    bucketed = spark.read.parquet(bucketed_path)

    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        # with near-dedup on, carry the post-scrub pre-model text through
        # the labeled frame so the signature stage reads it directly —
        # re-applying the c4/paragraph scrubs to the bucket input was
        # measured at 11.6% of the bucket pass (PLANS.md round 6). The
        # column rides the existing localCheckpoint and is dropped before
        # any write below.
        if cfg.dedup_near:
            from dataclasses import replace as _cfg_replace

            labeled = run_pipeline(
                part, _cfg_replace(cfg, carry_prescrub_text=True)
            )
        else:
            labeled = run_pipeline(part, cfg)
        # cross-bucket exact content dedup against already-written keeps.
        # Restrict to manifest-COMPLETED buckets: a torn previous run may
        # have written this bucket's files without marking it, and reading
        # them here would (a) dedup the bucket against its own stale copy
        # and (b) race the dynamic overwrite that replaces those files.
        if cfg.dedup_content and done:
            prior = (
                io.read("labeled")
                .filter(
                    F.col("keep")
                    & F.col("bucket_id").isin(*[int(x) for x in done])
                )
                .select(F.col("content_md5").alias("_h"))
                .distinct()
            )
            # plain equi-join on a hash key — sort-merge/shuffled-hash is
            # fine, and AQE broadcasts on its own when `hit` is small.
            # Forcing broadcast here would ship the kept-hash set of the
            # whole processed corpus into every executor.
            hit = prior.withColumn("_dup_prior", F.lit(True))
            labeled = (
                labeled.withColumn("_h", F.col("content_md5"))
                .join(hit, "_h", "left")
                .withColumn(
                    "drop_reason",
                    F.when(
                        F.col("keep") & F.col("_dup_prior").isNotNull(),
                        F.lit("dup_content"),
                    ).otherwise(F.col("drop_reason")),
                )
                .withColumn("keep", F.col("keep") & F.col("_dup_prior").isNull())
                .drop("_h", "_dup_prior")
            )
        # cross-bucket NEAR-dup dedup: mirror of the md5 prior-join above,
        # but the key is a band-bucket collision over persisted MinHash
        # signatures instead of an exact hash equality.
        if cfg.dedup_near:
            from .operators import dedup as _dedup

            portable = cfg.near_dup_hash == "md5"
            sig_fn = (
                _dedup.minhash_signatures_portable
                if portable
                else _dedup.minhash_signatures
            )
            # the near stage reuses `labeled` three times (participants,
            # relabel join, write) — cut the UDF-scoring lineage once; the
            # working set is one BUCKET, bounded by construction
            labeled = labeled.localCheckpoint(eager=False)
            # near-dedup participants = exact-dedup survivors (the same
            # set run_pipeline bands within the bucket): kept rows AND
            # quality/near-dropped rows, so chains propagate via dropped
            # members; never missing/dup_url/dup_content rows
            participant = F.col("drop_reason").isNull() | ~F.col(
                "drop_reason"
            ).isin("missing_text", "dup_url", "dup_content")
            # participant text comes straight off the labeled frame: the
            # carried `_prescrub_text` is the post-c4/post-paragraph text
            # whose md5 IS content_md5 (pipeline.py captures _orig_text
            # after both scrubs), so no re-scrub and no (url, md5)
            # recovery join against the bucket input is needed — that
            # path was measured at 11.6% of a 25k-doc bucket pass
            # (1.03 s of 8.86 s; PLANS.md round 6).
            texts = (
                labeled.filter(participant)
                .select("url", F.col("_prescrub_text").alias("text"))
                .dropDuplicates(["url"])
            )
            sigs_b = sig_fn(
                texts, "text", "url", cfg.near_dup_hashes
            ).localCheckpoint(eager=False)
            if done and not os.path.exists(io._path("near_sigs")):
                # completed buckets exist but no signature store: the
                # manifest came from a run with dedup_near OFF — silently
                # skipping cross-bucket near-dedup would mislabel, so fail
                raise RuntimeError(
                    "cfg.dedup_near=True on a resume whose completed "
                    "buckets have no near_sigs store (prior run had "
                    "dedup_near off?) — restart with a fresh out_root"
                )
            if done:
                prior_sigs = (
                    spark.read.parquet(io._path("near_sigs"))
                    .filter(F.col("bucket_id").isin(*[int(x) for x in done]))
                    .select("id", "sig")
                )
                near_hits = (
                    _dedup.minhash_jaccard_cross(
                        sigs_b,
                        prior_sigs,
                        num_hashes=cfg.near_dup_hashes,
                        portable=portable,
                    )
                    .filter(F.col("est_jaccard") >= cfg.near_dup_threshold)
                    .select(F.col("id_a").alias("url"))
                    .distinct()
                    .withColumn("_nd_prior", F.lit(True))
                )
                labeled = (
                    labeled.join(near_hits, "url", "left")
                    .withColumn(
                        "drop_reason",
                        F.when(
                            F.col("_nd_prior").isNotNull(), F.lit("dup_near")
                        ).otherwise(F.col("drop_reason")),
                    )
                    .withColumn("keep", F.col("keep") & F.col("_nd_prior").isNull())
                    .drop("_nd_prior")
                )
            # persist this bucket's participant signatures (idempotent
            # dynamic overwrite, same contract as the labeled write). The
            # sig type is hash-family-specific — do not switch
            # cfg.near_dup_hash mid-run.
            (
                sigs_b.select(F.col("id"), F.col("sig"))
                .withColumn("bucket_id", F.lit(b))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket_id")
                .parquet(io._path("near_sigs"))
            )
        # the carried pre-scrub text is a signature-stage convenience ONLY
        # — raw text is never persisted to the labeled table
        labeled = labeled.drop("_prescrub_text").withColumn(
            "bucket_id", F.lit(b)
        )
        # idempotent per-bucket commit: dynamic partition overwrite on
        # bucket_id means a crash AFTER the write but BEFORE manifest.mark
        # replaces (not duplicates) the bucket's rows on resume
        (
            labeled.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(io._path("labeled"))
        )
        # the metrics table comes from ONE read of the written partition:
        # aggregating the lazy `labeled` frame would re-run the whole
        # pipeline and scorer a second time
        (
            quality_metrics(
                io.read("labeled").filter(F.col("bucket_id") == b).drop("bucket_id")
            )
            .withColumn("bucket_id", F.lit(b))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(io._path("metrics"))
        )
        # the manifest row count is the written metrics' docs total (a
        # read of a few rows, not of the labeled partition again)
        rows = (
            io.read("metrics")
            .filter(F.col("bucket_id") == b)
            .agg(F.sum("docs"))
            .first()[0]
        )
        manifest.mark(b, rows)
        done.add(b)
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after bucket {b}")
    return manifest
