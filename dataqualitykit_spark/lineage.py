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

Content-dedup across buckets stays exact and runs BEFORE the scorer:
run_pipeline takes the content hashes that COMPLETED buckets already
claimed (`prior_hashes`: content_md5 of every written row except dup_url,
blocked_domain and url_keywords rows, which never enter the content
window) and left-joins them ahead of its content window — a plain
shuffled equi-join, NOT a forced broadcast: the hash set is the MAJORITY
of the corpus at scale, billions of md5s; AQE may still choose broadcast
when the set is actually small. A cross-bucket copy is then dup_content
exactly as a later copy inside the bucket is, is never scored, and gets
the label of one run_pipeline pass over the whole input (up to WHICH copy
is kept: the earliest bucket's). Across buckets the manifest state
substitutes for a global shuffle.

Per-bucket metrics come from the labeled write itself: one
DataFrame.observe (an Observation) on the write gathers the row count and
quality_metrics' per-reason docs, chars and avg_ppl inside the write's
job. The metrics table is written from those values and the manifest
records the row count, so the labeled partition is never read back; an
empty bucket records rows=0 and writes no metrics rows.

NEAR-dup dedup spans buckets through persisted signatures instead
(cfg.dedup_near), after run_pipeline: each bucket
persists the MinHash signatures (with their band keys on the default
xxhash64 path) of its near-dedup participants (exact-dedup
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

import functools
import json
import os
from dataclasses import replace
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, DROP_REASON_ORDER, PipelineConfig
from .functions import text as T
from .pipeline import run_pipeline
from .sources import TableIO

# drop reasons whose rows never enter the content window: their hashes
# claim nothing for later buckets
_INELIGIBLE = ("dup_url", "blocked_domain", "url_keywords")
# every reason a labeled row can carry, as quality_metrics names it
_REASONS = ("kept", *DROP_REASON_ORDER)


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

    def nonempty(self) -> list[int]:
        """Completed buckets that wrote rows — the only ones a read of
        the output tables can see."""
        return sorted(int(k) for k, v in self.state.items() if v["rows"])

    def mark(self, bucket: int, rows: int) -> None:
        self.state[str(bucket)] = {
            "rows": rows,
            "completed_at": datetime.now(timezone.utc).isoformat(),
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1)
        os.replace(tmp, self.path)


@functools.lru_cache(maxsize=4)
def _bucket_metrics(sc) -> tuple[Column, ...]:
    """Named aggregates for one DataFrame.observe on a bucket's labeled
    write: the row count plus quality_metrics' per-reason docs, chars and
    avg_ppl. Built once per SparkContext (each Column is py4j round
    trips); the write's own job computes them."""
    reason = F.coalesce(F.col("drop_reason"), F.lit("kept"))
    aggs = [F.count(F.lit(1)).alias("rows")]
    for r in _REASONS:
        hit = reason == F.lit(r)
        aggs += [
            F.count_if(hit).alias(f"docs_{r}"),
            F.sum(F.when(hit, F.col("n_chars"))).alias(f"chars_{r}"),
            F.avg(F.when(hit & (F.col("ppl") < 1e8), F.col("ppl"))).alias(
                f"avg_ppl_{r}"
            ),
        ]
    return tuple(aggs)


def _write_metrics(spark: SparkSession, io: TableIO, b: int, got: dict) -> int:
    """Writes bucket b's rows of the metrics table (quality_metrics'
    schema plus bucket_id, one row per reason present) from the observed
    values, and returns the bucket's row count. The rows are a VALUES
    relation planned on the JVM: no read-back of the labeled partition
    and no Python worker (createDataFrame). An empty bucket writes
    nothing."""

    def lit(v, suffix=""):
        return "NULL" if v is None else f"{v!r}{suffix}"

    values = [
        f"('{r}', {got[f'docs_{r}']}, {lit(got[f'chars_{r}'])}, "
        f"{lit(got[f'avg_ppl_{r}'], 'D')})"
        for r in sorted(_REASONS)
        if got[f"docs_{r}"]
    ]
    docs = sum(got[f"docs_{r}"] for r in _REASONS)
    if docs != got["rows"]:
        raise RuntimeError(
            f"bucket {b}: {got['rows']} labeled rows but {docs} carry a known "
            "drop_reason"
        )
    if values:
        (
            spark.sql(
                "SELECT reason, CAST(docs AS BIGINT) AS docs, "
                "CAST(chars AS BIGINT) AS chars, "
                f"CAST(avg_ppl AS DOUBLE) AS avg_ppl, {b} AS bucket_id "
                f"FROM VALUES {', '.join(values)} AS t(reason, docs, chars, avg_ppl)"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(io._path("metrics"))
        )
    return got["rows"]


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

    # with near-dedup on, carry the post-scrub pre-model text through the
    # labeled frame so the signature stage reads it directly — re-applying
    # the c4/paragraph scrubs to the bucket input was measured at 11.6% of
    # the bucket pass (PLANS.md round 6). The column rides the existing
    # localCheckpoint and is dropped before any write below.
    bucket_cfg = replace(cfg, carry_prescrub_text=True) if cfg.dedup_near else cfg
    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        # cross-bucket exact content dedup: the content hashes that
        # manifest-COMPLETED buckets already claimed go into the pipeline
        # ahead of its content window, so a later copy is dup_content
        # before the scorer and never scored. Only completed buckets: a
        # torn previous run may have written this bucket's files without
        # marking it, and reading them would dedup the bucket against its
        # own stale copy and race the dynamic overwrite that replaces them.
        claimed = manifest.nonempty()
        prior = None
        if cfg.dedup_content and claimed:
            prior = (
                io.read("labeled")
                .filter(
                    F.col("bucket_id").isin(*claimed)
                    & (
                        F.col("drop_reason").isNull()
                        | ~F.col("drop_reason").isin(*_INELIGIBLE)
                    )
                )
                .select("content_md5")
            )
        labeled = run_pipeline(part, bucket_cfg, prior_hashes=prior)
        # cross-bucket NEAR-dup dedup: the key is a band-bucket collision
        # over persisted MinHash signatures instead of an exact hash.
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
            # working set is one BUCKET, bounded by construction. Not
            # lazy: under AQE the checkpoint call runs the bucket plan's
            # shuffle stages here; only its last stage (the scorer) waits
            # for the first consumer's job.
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
            # whose md5 IS content_md5 (run_pipeline's text after both
            # scrubs), so no re-scrub and no (url, md5)
            # recovery join against the bucket input is needed — that
            # path was measured at 11.6% of a 25k-doc bucket pass
            # (1.03 s of 8.86 s; PLANS.md round 6).
            texts = (
                labeled.filter(participant)
                .select("url", F.col("_prescrub_text").alias("text"))
                .dropDuplicates(["url"])
            )
            # (this checkpoint call runs the dropDuplicates shuffle, and
            # with it the scorer stage of `labeled`)
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
            if claimed:
                prior_sigs = (
                    spark.read.parquet(io._path("near_sigs"))
                    .filter(F.col("bucket_id").isin(*claimed))
                    .drop("bucket_id")
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
            # persist this bucket's participant signatures, with their
            # band keys on the xxhash64 path, so later buckets band
            # against the same keys (idempotent dynamic overwrite, same
            # contract as the labeled write). The sig type is
            # hash-family-specific — do not switch cfg.near_dup_hash
            # mid-run.
            (
                sigs_b.withColumn("bucket_id", F.lit(b))
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
        # replaces (not duplicates) the bucket's rows on resume. The
        # write's own job gathers the bucket metrics (no read-back).
        obs = Observation(f"bucket_{b}")
        (
            labeled.observe(obs, *_bucket_metrics(spark.sparkContext))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(io._path("labeled"))
        )
        rows = _write_metrics(spark, io, b, obs.get)
        manifest.mark(b, rows)
        done.add(b)
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after bucket {b}")
    return manifest
