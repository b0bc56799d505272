"""Stateful streaming exact dedup: keep the FIRST document seen per
content hash across micro-batches via applyInPandasWithState.

The batch pipeline dedups with a window over the whole corpus; a stream
cannot (unbounded input), so the state store carries one tiny record per
seen hash — the canonical custom-stateful-operator shape the task brief
names (`applyInPandasWithState`). At crawl scale the state is
hash -> () (16 bytes + overhead per unique doc); for 10^12 docs that
outgrows a Spark state store and belongs in the batch compaction pass
(lineage.run_resumable) — this operator is for bounded dedup horizons
(e.g. a daily firehose deduped within the day, state TTL'd by the
processing-time timeout).

No reference analog (reference has no streaming at all, SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _hadoop_path_exists(spark, path: str) -> bool:
    """True iff `path` exists, via the Hadoop FileSystem API — scheme-aware
    (local, HDFS, s3a, ...), unlike os.path.exists."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _store_committed(spark, path: str) -> bool:
    """True iff a parquet store at `path` has COMMITTED data: the
    directory exists AND contains a partition directory or data file. A
    bare existence check would treat a crash mid-first-write (dir +
    _temporary staging created, no committed files) as a readable store
    and fail every subsequent batch with an unrecoverable
    AnalysisException; treating it as absent lets batch 0's retry rewrite
    it (dynamic partition overwrite replaces torn files). NB dynamic
    partitioned writes produce NO _SUCCESS marker, so commit-ness is
    judged by committed content, and the store's partition dirs
    (`_batch_id=N`) start with '_' — hence the '=' test, not a
    hidden-file prefix test."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name == "_temporary":
            continue
        if "=" in name or name.endswith(".parquet") or name == "_SUCCESS":
            return True
    return False


def near_dup_pairs_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.8,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate pairs: the stateless
    signature/banding algebra (identical to the batch operators) runs on
    the stream; an applyInPandasWithState stage keyed by (band, bucket)
    keeps each bucket's member signatures in the state store and emits a
    pair the moment a new document collides with a remembered one — the
    cross-micro-batch near-dup detector the batch CC pass cannot provide
    online.

    Emits (id_a, id_b, est_jaccard) with id_a < id_b and est >= threshold.
    A pair colliding in several bands emits once per band (dedup
    downstream with dropDuplicates or feed a batch CC compaction). State
    per bucket = member ids + signatures; bound the horizon with
    state_ttl_ms exactly like dedup_stream."""
    from ..operators.dedup import minhash_signatures

    sigs = minhash_signatures(
        stream, text_col, id_col, num_hashes, rows_per_band=rows_per_band
    )
    banded = sigs.select(
        "id", "sig", F.posexplode("bands").alias("band", "bucket")
    )

    def collide(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if state.hasTimedOut:
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("id")
        ids, sigs_flat = (state.get if state.exists else ([], []))
        # state stores signatures flattened (id i owns slots
        # [i*num_hashes, (i+1)*num_hashes))
        members = [
            (ids[i], sigs_flat[i * num_hashes : (i + 1) * num_hashes])
            for i in range(len(ids))
        ]
        out = []
        for _, row in batch.iterrows():
            # plain-python ints: numpy int64 in the state tuple breaks the
            # JVM-side unpickler
            rid, rsig = row["id"], [int(x) for x in row["sig"]]
            if any(rid == m_id for m_id, _ in members):
                continue  # same doc re-observed: not a pair with itself
            for m_id, m_sig in members:
                est = sum(1 for x, y in zip(rsig, m_sig) if x == y) / num_hashes
                if est >= threshold:
                    a, b = (rid, m_id) if rid < m_id else (m_id, rid)
                    out.append((a, b, est))
            members.append((rid, rsig))
        state.update(
            (
                [m_id for m_id, _ in members],
                [s for _, m_sig in members for s in m_sig],
            )
        )
        if out:
            yield pd.DataFrame(out, columns=["id_a", "id_b", "est_jaccard"])

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        collide,
        outputStructType="id_a string, id_b string, est_jaccard double",
        stateStructType="ids array<string>, sigs array<bigint>",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def near_dedup_labeler(
    labels_path: str,
    sig_store_path: str,
    text_col: str = "text",
    id_col: str = "url",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.8,
):
    """Streaming near-dup KEEP/DROP decisions (not just candidate pairs):
    returns a `fn(batch_df, batch_id)` for `stream.writeStream.foreachBatch`.

    Each micro-batch is near-deduped exactly like a lineage bucket
    (lineage.run_resumable):

    - WITHIN the batch: MinHash-LSH pairs -> connected components -> the
      min-id member of each cluster keeps, the rest drop as 'dup_near'.
    - ACROSS batches: greedy first-seen — the batch's signatures band-join
      (dedup.minhash_jaccard_cross) against a DISK-BACKED signature store
      of all prior batches; any doc clearing `threshold` against a prior
      doc drops as 'dup_near'. Every batch doc's signature (kept AND
      dropped, so transitive chains propagate) then appends to the store.

    Why foreachBatch + a parquet store instead of a second
    applyInPandasWithState stage: a doc's verdict is an OR across ALL its
    band groups, which needs a per-doc combine after the band-keyed state
    stage — chaining another stateful operator behind
    applyInPandasWithState is unsupported, and at crawl scale the
    signature set outgrows the state store anyway; a partitioned parquet
    table IS the scalable state. Both writes are dynamic-overwrite
    partitioned by _batch_id, so a retried batch replaces (never
    duplicates) its own output, and the store read excludes the current
    batch id — retries are idempotent.

    Labeled output schema: input columns + keep boolean + drop_reason
    string + _batch_id partition column.
    """
    from ..operators.dedup import (
        connected_components,
        minhash_jaccard_cross,
        minhash_jaccard_from_sigs,
        minhash_signatures,
    )

    def label_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        sigs = minhash_signatures(
            batch, text_col, id_col, num_hashes, rows_per_band=rows_per_band
        ).localCheckpoint()
        within = minhash_jaccard_from_sigs(sigs, num_hashes, rows_per_band).filter(
            F.col("est_jaccard") >= threshold
        )
        comp = connected_components(within)
        dropped = comp.filter(F.col("id") != F.col("component")).select("id")
        # EXPLICIT store-commit check (Hadoop FS — works for any scheme)
        # instead of a blanket AnalysisException catch: only "no committed
        # store yet" (first batch, or a torn first write) may skip the
        # cross-batch join. A real analysis error — e.g. store schema
        # drift after changing num_hashes or id types — must propagate,
        # not silently disable cross-batch dedup for every later batch.
        if _store_committed(spark, sig_store_path):
            prior = (
                spark.read.parquet(sig_store_path)
                .filter(F.col("_batch_id") < F.lit(batch_id))
                .select("id", "sig", "bands")
            )
            hits = (
                minhash_jaccard_cross(sigs, prior, num_hashes, rows_per_band)
                .filter(F.col("est_jaccard") >= threshold)
                .select(F.col("id_a").alias("id"))
            )
            dropped = dropped.union(hits)
        flag = dropped.distinct().withColumnRenamed("id", id_col).withColumn(
            "_nd", F.lit(True)
        )
        labeled = (
            batch.join(flag, id_col, "left")
            .withColumn(
                "drop_reason",
                F.when(F.col("_nd").isNotNull(), F.lit("dup_near")),
            )
            .withColumn("keep", F.col("_nd").isNull())
            .drop("_nd")
            .withColumn("_batch_id", F.lit(batch_id))
        )
        (
            labeled.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(labels_path)
        )
        (
            sigs.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(sig_store_path)
        )

    return label_batch


def dedup_stream(
    stream: DataFrame,
    key_col: str = "content_md5",
    order_col: str = "url",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming keep-first-per-key.

    Emits, per micro-batch, at most one row per NEW key (the minimum
    `order_col` row inside the batch — a deterministic within-batch
    tie-break); keys already recorded in state emit nothing. Output schema
    = input schema. With `state_ttl_ms`, state expires on processing-time
    timeout (bounded dedup horizon).
    """
    schema = stream.schema
    cols = [f.name for f in schema.fields]

    def keep_first(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if state.hasTimedOut:
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            return
        state.update((True,))
        first = batch.sort_values(order_col, kind="mergesort").head(1)
        yield first[cols]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            keep_first,
            outputStructType=schema,
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=timeout,
        )
    )
