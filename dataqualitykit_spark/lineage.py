"""Resumable per-partition lineage (BASELINE.json north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

A run has two parts. BUCKETIZE runs pipeline.dedup (the map-side gates,
the paragraph scrub, the url window and the content window) over the
WHOLE source once and writes its output — the projected source columns,
`text` after the C4/paragraph scrubs, and the pre-model reason `_pre` —
as the bucketed table, partitioned by B deterministic url-hash buckets
(pmod(xxhash64(url), B): the same salted key that defuses domain skew;
the url window's key normalize_url(url) under cfg.normalize_urls, so
mirrors of one page share a bucket). Each BUCKET then runs only
pipeline.score over its partition (a read that prunes to one directory):
the fused scorer and the decide step (without near-dedup: one Spark job,
no shuffle). Every bucket is appended to the labeled table, and its id
is then recorded in a JSON manifest. A restart skips completed buckets, so a run killed
after bucket k reprocesses nothing and converges to the same table as an
uninterrupted run.

Cross-bucket exact dedup is therefore global: the url and content
windows see the whole source at bucketize, so for every config without
near-dedup the labels equal one run_pipeline pass row for row, including
which copy of a duplicate is kept. The trade-off: the part of a run that
cannot resume (bucketize) now includes the two dedup shuffles over the
whole source, while the Python scorer, which dominates the per-doc cost,
stays bucketed. The total shuffled bytes do not change. content_md5 is
not stored in the bucketed table; score recomputes it from the stored
text (storing it cost more write bytes than the md5 costs time).

The `_bucketed_done` marker records how the rows were bucketed
(n_buckets, the bucket key), a digest of the config, the layout of the
bucketed table and its schema as DDL. A resume under other bucketing, a
different config or an older layout raises before anything is written;
the bucketed table is read with the stored schema, so no
schema-inference job runs.

Per-bucket metrics come from the labeled write itself: one
DataFrame.observe (an Observation) on the write gathers the row count and
quality_metrics' per-reason docs, chars and avg_ppl inside the write's
job. The driver writes the bucket's metrics partition from those values
with pyarrow (no Spark job), and the manifest records the row count, so
the labeled partition is never read back; an empty bucket records rows=0
and writes no metrics rows.

NEAR-dup dedup spans buckets through persisted signatures instead
(cfg.dedup_near): each bucket persists the xxhash64 MinHash signatures
and band keys of its near-dedup participants — its dedup survivors
(`_pre IS NULL`), exactly the set run_pipeline's near stage bands, so
transitive chains propagate through rows the rules later drop — to a
`near_sigs` table partitioned by bucket_id; before finalizing bucket b,
its participants' signatures band-join (dedup.minhash_jaccard_cross)
against completed buckets' signatures, and any row whose estimated
Jaccard against a prior doc clears cfg.near_dup_threshold is relabeled
drop_reason='dup_near'. Semantics are GREEDY FIRST-SEEN in bucket order
(the prior doc always wins), which is deterministic across kill/resume
because bucket order is fixed and resume skips completed buckets — an
interrupted run converges to the uninterrupted run's exact labels. (A
single global run_pipeline instead picks the min-url doc of each
connected component as keeper, so WHICH member of a cross-bucket cluster
is kept can differ between the global and bucketed shapes; each shape is
internally deterministic.)

run_resumable works on a local file system only: the manifest, the
marker and the metrics partitions are written with plain file
operations (open, os.replace, pyarrow).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
from dataclasses import fields
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, DROP_REASON_ORDER, PipelineConfig
from .functions import text as T
from .pipeline import dedup, score

# every reason a labeled row can carry, as quality_metrics names it
_REASONS = ("kept", *DROP_REASON_ORDER)
# what the bucketed table holds: pipeline.dedup's output with its _pre
# column (a store without the tag was bucketed from the raw source)
_LAYOUT = "dedup"
# the metrics table: quality_metrics' schema (bucket_id is the partition
# column)
_METRICS_SCHEMA = pa.schema(
    [
        ("reason", pa.string()),
        ("docs", pa.int64()),
        ("chars", pa.int64()),
        ("avg_ppl", pa.float64()),
    ]
)
# the near_sigs table: dedup.minhash_signatures of the url-keyed
# participants, partitioned by bucket_id (read with this schema, so a
# store whose buckets had no participants reads as empty)
_NEAR_SIGS_SCHEMA = (
    "id string, sig array<bigint>, bands array<bigint>, bucket_id int"
)


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


def _write_metrics(root: str, b: int, got: dict) -> int:
    """Writes bucket b's partition of the metrics table (one row per
    reason present) from the observed values with pyarrow, and returns
    the bucket's row count. The file goes to a hidden directory first,
    which then replaces `bucket_id=<b>/`, so a re-run bucket never
    duplicates rows. An empty bucket writes nothing."""
    reasons = [r for r in sorted(_REASONS) if got[f"docs_{r}"]]
    docs = sum(got[f"docs_{r}"] for r in _REASONS)
    if docs != got["rows"]:
        raise RuntimeError(
            f"bucket {b}: {got['rows']} labeled rows but {docs} carry a known "
            "drop_reason"
        )
    final = os.path.join(root, f"bucket_id={b}")
    tmp = os.path.join(root, f".bucket_id={b}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    if reasons:
        os.makedirs(tmp)
        table = pa.table(
            {
                "reason": reasons,
                "docs": [got[f"docs_{r}"] for r in reasons],
                "chars": [got[f"chars_{r}"] for r in reasons],
                "avg_ppl": [got[f"avg_ppl_{r}"] for r in reasons],
            },
            schema=_METRICS_SCHEMA,
        )
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(final, ignore_errors=True)
    if reasons:
        os.rename(tmp, final)
    return got["rows"]


def _ddl(df: DataFrame) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)


def run_resumable(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_buckets: int = 8,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fail_after: int | None = None,
) -> Manifest:
    """Dedup `source` once into url-hash buckets, then score each bucket,
    appending labeled output + metrics per bucket; resume skips completed
    buckets. `out_root` is a local directory.

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
    os.makedirs(out_root, exist_ok=True)
    manifest = Manifest(os.path.join(out_root, "manifest.json"))
    done = manifest.completed()

    # ONE source scan: dedup the whole source and write it partitioned by
    # _bucket, then every per-bucket read below prunes to one partition
    # directory (PartitionFilters on _bucket). The marker file makes the
    # stage idempotent across restarts — a resume never re-scans the
    # source, matching the north rule's "resumable mid-table". It records
    # how the rows were bucketed, the config digest and the layout: a
    # resume that would bucket differently would loop over buckets the
    # stored input does not have, one under another config would mix two
    # label semantics in one table, and one over another layout would
    # misread the stored columns, so each is refused before anything is
    # written.
    bucketed_path = os.path.join(out_root, "bucketed")
    marker = os.path.join(out_root, "_bucketed_done")
    bucketing = {
        "n_buckets": n_buckets,
        "bucket_key": "normalize_url" if cfg.normalize_urls else "url",
        "config": _config_digest(cfg),
        "layout": _LAYOUT,
    }
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        seen = {k: stored.get(k) for k in bucketing}
        if seen != bucketing:
            raise ValueError(
                f"run_resumable: {out_root} was bucketed as {seen}, this call "
                f"asks for {bucketing} — resume with the original n_buckets "
                "and config or restart with a fresh out_root"
            )
    else:
        # bucket on the url window's key, so every row one url window
        # compares lands in the same bucket
        key = T.normalize_url(F.col("url")) if cfg.normalize_urls else F.col("url")
        deduped = dedup(source, cfg).withColumn(
            "_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
        )
        deduped.write.mode("overwrite").partitionBy("_bucket").parquet(bucketed_path)
        stored = bucketing | {"schema": _ddl(deduped)}
        with open(marker, "w") as f:
            json.dump(stored, f)
    if len(done) == n_buckets:
        return manifest
    bucketed = spark.read.schema(stored["schema"]).parquet(bucketed_path)

    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        labeled = score(part, cfg)
        # cross-bucket NEAR-dup dedup: the key is a band-bucket collision
        # over persisted MinHash signatures instead of an exact hash.
        if cfg.dedup_near:
            from .operators import dedup as _dedup

            # the participants are the bucket's dedup survivors, signed
            # straight from the bucket input (their text is the
            # post-scrub text whose md5 is content_md5)
            sigs_b = _dedup.minhash_signatures(
                part.filter(F.col("_pre").isNull()).select("url", "text"),
                "text",
                "url",
                cfg.near_dup_hashes,
            ).localCheckpoint(eager=False)
            claimed = manifest.nonempty()
            if claimed:
                prior_sigs = (
                    spark.read.schema(_NEAR_SIGS_SCHEMA)
                    .parquet(os.path.join(out_root, "near_sigs"))
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
                .parquet(os.path.join(out_root, "near_sigs"))
            )
        # idempotent per-bucket commit: dynamic partition overwrite on
        # bucket_id means a crash AFTER the write but BEFORE manifest.mark
        # replaces (not duplicates) the bucket's rows on resume. The
        # write's own job gathers the bucket metrics (no read-back).
        obs = Observation(f"bucket_{b}")
        (
            labeled.withColumn("bucket_id", F.lit(b))
            .observe(obs, *_bucket_metrics(spark.sparkContext))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(os.path.join(out_root, "labeled"))
        )
        rows = _write_metrics(os.path.join(out_root, "metrics"), b, obs.get)
        manifest.mark(b, rows)
        done.add(b)
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after bucket {b}")
    return manifest
