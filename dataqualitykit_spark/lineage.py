"""Resumable per-partition lineage (BASELINE.json north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

A run has two parts. BUCKETIZE runs pipeline.dedup (the map-side gates,
the paragraph scrub, the url window, the content window and the opt-in
near-dup stage) over the WHOLE source once and writes its output — the
projected source columns, `text` after the C4/paragraph scrubs, and the
pre-model reason `_pre` — as the bucketed table, partitioned by B
deterministic url-hash buckets (pmod(xxhash64(url), B): the same salted
key that defuses domain skew; the url window's key normalize_url(url)
under cfg.normalize_urls, so mirrors of one page share a bucket). Each
BUCKET then runs only pipeline.score over its partition (a read that
prunes to one directory): the fused scorer and the decide step, one
Spark job with no shuffle. No bucket reads another bucket's output, so
two buckets are in flight at once on driver threads: one bucket's scorer
stage runs while the other builds its plan, fetches its Observation and
commits. Each bucket writes its labeled rows with a plain overwrite to a
hidden `labeled/.bucket_id=<b>.tmp/` (readers skip hidden directories),
renames it to `bucket_id=<b>/` after its metrics partition is written,
and then records its id in a JSON manifest. A restart skips completed
buckets and rewrites the rest, so a run killed with buckets in flight
reprocesses no completed bucket and converges to the same table as an
uninterrupted run. Each bucket's jobs carry the description
`run_resumable: bucket <b>` (bucketize's: `run_resumable: bucketize`),
inside the caller's job group.

Cross-bucket dedup is therefore global: the url and content windows and
the near-dup stage see the whole source at bucketize, so for every
config the labels equal one run_pipeline pass row for row, including
which copy of a duplicate is kept. The trade-off: the part of a run that
cannot resume (bucketize) includes the two dedup shuffles over the whole
source and, under cfg.dedup_near, the near stage's two eager actions
(the signature checkpoint and the bounded pair collect), while the
Python scorer, which dominates the per-doc cost, stays bucketed. The
total shuffled bytes do not change. content_md5 is not stored in the
bucketed table; score recomputes it from the stored text (storing it
cost more write bytes than the md5 costs time).

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

run_resumable works on a local file system only: the manifest, the
marker and the metrics partitions are written, and each labeled
partition is committed, with plain file operations (open, os.replace,
os.rename, pyarrow).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import threading
import time
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import fields
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .config import DEFAULT_CONFIG, DROP_REASON_ORDER, PipelineConfig
from .functions import text as T
from .pipeline import dedup, score

# every reason a labeled row can carry, as quality_metrics names it
_REASONS = ("kept", *DROP_REASON_ORDER)
# what the bucketed table holds: pipeline.dedup's output, whose _pre
# carries dup_near (a "dedup" store left near-dup to the buckets; a store
# without the tag was bucketed from the raw source)
_LAYOUT = "dedup+near"
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
# buckets in flight: one bucket's scorer stage runs while the other builds
# its plan, fetches its Observation and commits. Each one adds a Python
# worker (~115 MB); as many as defaultParallelism (4 on 4 vCPU) scored no
# faster than 2 and raised peak RSS 21 %, so the depth is not sized by
# cores.
_IN_FLIGHT = 2
_DESCRIPTION = "spark.job.description"


def _config_digest(cfg: PipelineConfig) -> str:
    """Stable digest of every compare=True field of `cfg` (field names
    and values, in declaration order). Model loaders are compare=False,
    so they are not covered: a resume that swaps the language or
    perplexity model is not detected."""
    items = [(f.name, getattr(cfg, f.name)) for f in fields(cfg) if f.compare]
    return hashlib.sha256(repr(items).encode("utf-8")).hexdigest()[:16]


class Manifest:
    """JSON checkpoint manifest: {bucket_id: {rows, seconds,
    completed_at}}, where seconds is the bucket's own wall time. mark is
    safe to call from several threads."""

    def __init__(self, path: str):
        self.path = path
        self.state: dict[str, dict] = {}
        self._lock = threading.Lock()
        if os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    def completed(self) -> set[int]:
        return {int(k) for k in self.state}

    def mark(self, bucket: int, rows: int, seconds: float) -> None:
        # one lock over the update and the replace: the threads share the
        # tmp file, and json.dump iterates the dict another mark may grow
        with self._lock:
            self.state[str(bucket)] = {
                "rows": rows,
                "seconds": round(seconds, 3),
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
    _swap_in(tmp, final, bool(reasons))
    return got["rows"]


def _swap_in(tmp: str, final: str, keep: bool) -> None:
    """Replaces the partition directory `final` by the hidden directory
    `tmp` that holds its new files; with keep=False (nothing to write)
    both are removed."""
    shutil.rmtree(final, ignore_errors=True)
    if keep:
        os.rename(tmp, final)
    else:
        shutil.rmtree(tmp, ignore_errors=True)


def _ddl(df: DataFrame) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)


def _score_bucket(
    spark: SparkSession,
    bucketed: DataFrame,
    out_root: str,
    b: int,
    cfg: PipelineConfig,
    manifest: Manifest,
) -> None:
    """Scores bucket b and commits it: the labeled rows (with the
    bucket's Observation), the metrics partition, then the manifest
    entry. Runs on a pool thread; its jobs carry the description
    `run_resumable: bucket <b>`."""
    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription(f"run_resumable: bucket {b}")
    labeled = score(bucketed.filter(F.col("_bucket") == b).drop("_bucket"), cfg)
    # per-bucket commit: the rows go to a hidden directory, which then
    # replaces `bucket_id=<b>/` once the metrics partition is written, so
    # a crash before manifest.mark leaves at most a hidden directory or a
    # complete partition that the resume replaces (never duplicates). The
    # write's own job gathers the bucket metrics (no read-back).
    root = os.path.join(out_root, "labeled")
    final = os.path.join(root, f"bucket_id={b}")
    tmp = os.path.join(root, f".bucket_id={b}.tmp")
    obs = Observation(f"bucket_{b}")
    (
        labeled.observe(obs, *_bucket_metrics(spark.sparkContext))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    rows = _write_metrics(os.path.join(out_root, "metrics"), b, obs.get)
    _swap_in(tmp, final, rows > 0)  # an empty bucket writes no labeled files
    manifest.mark(b, rows, time.perf_counter() - t0)


def run_resumable(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_buckets: int = 8,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fail_after: int | None = None,
) -> Manifest:
    """Dedup `source` once into url-hash buckets, then score the buckets
    two at a time, committing labeled output + metrics per bucket; resume
    skips completed buckets.
    `out_root` is a local directory. A bucket that fails stops the
    submission of further buckets; the ones in flight finish and are
    marked, then the failure is raised. The caller's job group and local
    properties reach the bucket threads, so cancelling the group cancels
    the run.

    fail_after=k (k >= 1, a test hook for the kill/resume contract) runs
    only the first k remaining buckets, in flight together, and then
    raises. A resume must pass the original n_buckets and a config equal
    in every compare=True field (see _config_digest; model loaders are
    not covered); otherwise it raises before writing anything.
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
    if fail_after is not None and fail_after < 1:
        raise ValueError(f"fail_after counts buckets: pass k >= 1, not {fail_after}")
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
        sc = spark.sparkContext
        caller = sc.getLocalProperty(_DESCRIPTION)
        sc.setJobDescription("run_resumable: bucketize")
        try:
            # bucket on the url window's key, so every row one url window
            # compares lands in the same bucket
            key = T.normalize_url(F.col("url")) if cfg.normalize_urls else F.col("url")
            deduped = dedup(source, cfg).withColumn(
                "_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
            )
            deduped.write.mode("overwrite").partitionBy("_bucket").parquet(bucketed_path)
        finally:
            sc.setLocalProperty(_DESCRIPTION, caller)
        stored = bucketing | {"schema": _ddl(deduped)}
        with open(marker, "w") as f:
            json.dump(stored, f)
    if len(done) == n_buckets:
        return manifest
    bucketed = spark.read.schema(stored["schema"]).parquet(bucketed_path)

    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    futures: list[Future] = []
    running: set[Future] = set()
    with ThreadPoolExecutor(_IN_FLIGHT) as pool:
        for b in todo:
            if len(running) == _IN_FLIGHT:
                finished, running = wait(running, return_when=FIRST_COMPLETED)
                if any(f.exception() for f in finished):
                    break
            # wrapped once per bucket: each gets its own copy of the
            # caller's local properties, so two threads never share the
            # one whose job description they set
            run = inheritable_thread_target(spark)(_score_bucket)
            futures.append(
                pool.submit(run, spark, bucketed, out_root, b, cfg, manifest)
            )
            running.add(futures[-1])
    # leaving the pool drained the buckets in flight; raise the first
    # failure in bucket order
    for f in futures:
        f.result()
    if fail_after is not None:
        raise RuntimeError(f"injected failure after bucket {todo[-1]}")
    return manifest
