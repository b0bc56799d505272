"""Per-layer measurements made only in the traced run, from outside the
program: calls into each layer's public functions, and readings of the
files a call wrote. Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from workloads import CONTRACT, N_BUCKETS, Prepared, dir_bytes

DEDUP_ZERO = {
    "dedup.minhash_s": 0.0,
    "dedup.candidate_pairs": 0,
    "dedup.pair_yield": 0.0,
    "dedup.cc_s": 0.0,
    "dedup.cc_jobs": 0,
}
LINEAGE_ZERO = {
    "lineage.bucketize_s": 0.0,
    "lineage.bucket_s_p50": 0.0,
    "lineage.bucket_s_max": 0.0,
    "lineage.bytes_written_mb.bucketed": 0.0,
    "lineage.bytes_written_mb.labeled": 0.0,
    "lineage.bytes_written_mb.metrics": 0.0,
    "lineage.resume_noop_s": 0.0,
}


def _per_doc_us(fn, n_docs: int, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_docs * 1e6


def kernels(sample: list[str]) -> dict:
    """The scrub/score Python kernels on a fixed sample, no Spark involved."""
    import pandas as pd

    from dataqualitykit_spark import semantics
    from dataqualitykit_spark.udfs.scoring import fused_scrub_score_udf

    batch = fused_scrub_score_udf().func
    series = pd.Series(sample)
    scrubbed = [semantics.scrub_text(t) for t in sample]
    n = len(sample)
    return {
        "udfs.batch_us_per_doc": _per_doc_us(lambda: batch(series), n),
        "semantics.scrub_text_us_per_doc": _per_doc_us(
            lambda: [semantics.scrub_text(t) for t in sample], n
        ),
        "semantics.full_metrics_us_per_doc": _per_doc_us(
            lambda: [semantics.full_metrics(t) for t in scrubbed], n
        ),
    }


def scored_rows(out: str) -> int:
    """Rows the scorer kept working on: the labeled output carries
    scrubbed_text only for rows that survived to the scoring stage."""
    col = pq.read_table(os.path.join(out, "labeled"), columns=["scrubbed_text"]).column(0)
    return len(col) - col.null_count


def scan_s(spark, inp: Prepared, reps: int = 3) -> float:
    """TableIO.read of the input plus one aggregate over the full text."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark.sources import TableIO

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        TableIO(spark, inp.root, fmt="parquet").read("pages").agg(
            F.count(F.lit(1)), F.sum(F.length("text"))
        ).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def dedup(spark, inp: Prepared, out: str, work: str, spans) -> tuple[dict, dict]:
    """minhash_jaccard and connected_components on the materialized
    exact-dedup survivors of the last timed call (rows not dropped as
    missing_text, dup_url or dup_content). Returns the metrics and the
    connected_components span, whose jobs are counted from the event log."""
    from pyspark.sql import functions as F

    from dataqualitykit_spark import DEFAULT_CONFIG
    from dataqualitykit_spark.operators import dedup as dd

    labeled = pq.read_table(os.path.join(out, "labeled"), columns=CONTRACT[:3]).to_pydict()
    exact = {"missing_text", "dup_url", "dup_content"}
    survivors = {u for u, r in zip(labeled["url"], labeled["drop_reason"]) if r not in exact}
    src = pq.read_table(os.path.join(inp.root, "pages"), columns=["url", "text"])
    mask = pa.array([u in survivors for u in src.column("url").to_pylist()])
    surv_dir = os.path.join(work, "survivors")
    os.makedirs(surv_dir)
    table = src.filter(mask)
    step = -(-table.num_rows // 8)
    for i in range(8):  # several files, so the scan is split across cores
        pq.write_table(table.slice(i * step, step), os.path.join(surv_dir, f"p{i}.parquet"))
    docs = spark.read.parquet(surv_dir)
    threshold = DEFAULT_CONFIG.near_dup_threshold
    with spans.span("dedup.minhash_jaccard") as mh:
        pairs = dd.minhash_jaccard(
            docs, "text", "url", num_hashes=DEFAULT_CONFIG.near_dup_hashes
        ).localCheckpoint(eager=True)
    cand, above = pairs.agg(
        F.count(F.lit(1)), F.sum((F.col("est_jaccard") >= threshold).cast("long"))
    ).first()
    edges = pairs.filter(F.col("est_jaccard") >= threshold)
    with spans.span("dedup.connected_components") as cc:
        dd.connected_components(edges).agg(F.count(F.lit(1))).collect()
    return {
        "dedup.minhash_s": mh["seconds"],
        "dedup.candidate_pairs": int(cand),
        "dedup.pair_yield": (above or 0) / cand if cand else 0.0,
        "dedup.cc_s": cc["seconds"],
    }, cc


def lineage(spark, inp: Prepared, out: str, call_start: float, workload, spans) -> dict:
    """Bucket timings from the manifest's completed_at stamps and the
    _bucketed_done marker's mtime, table sizes on disk, and the cost of a
    second call on the completed out_root."""
    from datetime import datetime

    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    marks = sorted(
        datetime.fromisoformat(m["completed_at"]).timestamp() for m in manifest.values()
    )
    if len(marks) != N_BUCKETS:
        raise RuntimeError(f"manifest lists {len(marks)} of {N_BUCKETS} buckets")
    bucketized = os.path.getmtime(os.path.join(out, "_bucketed_done"))
    per_bucket = [b - a for a, b in zip([bucketized, *marks[:-1]], marks)]
    with spans.span("lineage.run_resumable.noop") as noop:
        workload.call(spark, inp, out)
    return {
        "lineage.bucketize_s": bucketized - call_start,
        "lineage.bucket_s_p50": statistics.median(per_bucket),
        "lineage.bucket_s_max": max(per_bucket),
        "lineage.bytes_written_mb.bucketed": dir_bytes(os.path.join(out, "bucketed")) / 1e6,
        "lineage.bytes_written_mb.labeled": dir_bytes(os.path.join(out, "labeled")) / 1e6,
        "lineage.bytes_written_mb.metrics": dir_bytes(os.path.join(out, "metrics")) / 1e6,
        "lineage.resume_noop_s": noop["seconds"],
    }
