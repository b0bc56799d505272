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
(cfg.dedup_near), after run_pipeline: each bucket persists the xxhash64
MinHash signatures and band keys of its near-dedup participants (the
rows run_pipeline bands: exact-dedup survivors outside the blocklist and
url-keyword gates — kept, quality-dropped and near-dropped rows alike,
so transitive chains propagate) to a `near_sigs` table partitioned by
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
import hashlib
import json
import os
from dataclasses import fields, replace
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
# the near_sigs table: dedup.minhash_signatures of the url-keyed
# participants, partitioned by bucket_id (read with this schema, so a
# store whose buckets had no participants reads as empty)
_NEAR_SIGS_SCHEMA = (
    "id string, sig array<bigint>, bands array<bigint>, bucket_id int"
)
# the labeled columns the prior-hash read needs, read with this schema so
# no schema-inference job runs per bucket (bucket_id is the partition
# column). The bucketed input keeps inferring: its columns follow the
# caller's source.
_LABELED_PRIOR_SCHEMA = "content_md5 string, drop_reason string, bucket_id int"


def _config_digest(cfg: PipelineConfig) -> str:
    """Stable digest of every compare=True field of `cfg` (field names
    and values, in declaration order). Model loaders are compare=False,
    so they are not covered: a resume that swaps the language or
    perplexity model is not detected."""
    items = [(f.name, getattr(cfg, f.name)) for f in fields(cfg) if f.compare]
    return hashlib.sha256(repr(items).encode("utf-8")).hexdigest()[:16]


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
    contract). A resume must pass the original n_buckets and a config
    equal in every compare=True field (see _config_digest; model loaders
    are not covered); otherwise it raises before writing anything.
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
    # how the rows were bucketed and the config digest: a resume that
    # would bucket differently would loop over buckets the stored input
    # does not have, and one under another config would mix two label
    # semantics in one table, so either is refused before anything is
    # written.
    bucketed_path = io._path("bucketed")
    marker = os.path.join(out_root, "_bucketed_done")
    bucketing = {
        "n_buckets": n_buckets,
        "bucket_key": "normalize_url" if cfg.normalize_urls else "url",
        "config": _config_digest(cfg),
    }
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        if stored != bucketing:
            raise ValueError(
                f"run_resumable: {out_root} was bucketed as {stored}, this "
                f"call asks for {bucketing} — resume with the original "
                "n_buckets and config or restart with a fresh out_root"
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
                spark.read.schema(_LABELED_PRIOR_SCHEMA)
                .parquet(io._path("labeled"))
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

            # the near stage reuses `labeled` three times (participants,
            # relabel join, write) — cut the UDF-scoring lineage once; the
            # working set is one BUCKET, bounded by construction. Not
            # lazy: under AQE the checkpoint call runs the bucket plan's
            # shuffle stages here; only its last stage (the scorer) waits
            # for the first consumer's job.
            labeled = labeled.localCheckpoint(eager=False)
            # near-dedup participants = the set run_pipeline bands within
            # the bucket: kept rows AND quality/near-dropped rows, so
            # chains propagate via dropped members; never missing_text,
            # dup_content or _INELIGIBLE rows
            participant = F.col("drop_reason").isNull() | ~F.col(
                "drop_reason"
            ).isin("missing_text", "dup_content", *_INELIGIBLE)
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
            sigs_b = _dedup.minhash_signatures(
                texts, "text", "url", cfg.near_dup_hashes
            ).localCheckpoint(eager=False)
            if claimed:
                prior_sigs = (
                    spark.read.schema(_NEAR_SIGS_SCHEMA)
                    .parquet(io._path("near_sigs"))
                    .filter(F.col("bucket_id").isin(*claimed))
                    .drop("bucket_id")
                )
                near_hits = (
                    _dedup.minhash_jaccard_cross(
                        sigs_b,
                        prior_sigs,
                        num_hashes=cfg.near_dup_hashes,
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
            # persist this bucket's participant signatures with their
            # band keys, so later buckets band against the same keys
            # (idempotent dynamic overwrite, same contract as the
            # labeled write)
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
