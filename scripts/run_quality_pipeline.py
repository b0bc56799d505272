#!/usr/bin/env python
"""Cluster entry point (north rule: `spark-submit --py-files` launch).

    spark-submit \
      --py-files dataqualitykit_spark.zip \
      --conf spark.executorEnv.PYTHONPATH=dataqualitykit_spark.zip \
      [--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<v>] \
      scripts/run_quality_pipeline.py \
      --input  s3://bucket/pages_parquet_or_iceberg \
      --output s3://bucket/labeled_out \
      --format parquet|iceberg|wet \
      --buckets 64 --salt-partitions 4096 [--resume]

The executors' PYTHONPATH must hold the zip: Spark starts each executor's
Python worker daemon as `python -m dataqualitykit_spark._pydaemon`, before
any task puts the `--py-files` zip on its own path.

Local smoke:
    python scripts/run_quality_pipeline.py \
      --input /root/testdata/sf0.001/documents.parquet --adapter documents \
      --output /tmp/dqx_out --buckets 4
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg", "wet"])
    p.add_argument("--adapter", default=None, choices=[None, "documents"])
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--salt-partitions", type=int, default=0)
    p.add_argument("--near-dedup", action="store_true",
                   help="MinHash-LSH near-dup dedup within each bucket "
                        "(pairs -> connected components -> dup_near)")
    p.add_argument("--near-dup-threshold", type=float, default=0.8)
    p.add_argument("--normalize-urls", action="store_true",
                   help="dedup on canonical urls (tracking params, case, "
                        "fragments stripped)")
    p.add_argument("--blocklist-file", default=None,
                   help="text file, one bare domain per line; urls whose "
                        "host equals or is a subdomain of an entry drop "
                        "FIRST (drop_reason='blocked_domain')")
    p.add_argument("--url-keywords-file", default=None,
                   help="text file, one 'word<TAB or space>weight' per "
                        "line (weight optional, default 1.0); urls whose "
                        "weight sum reaches --url-keyword-threshold drop "
                        "right after the blocklist "
                        "(drop_reason='url_keywords')")
    p.add_argument("--url-keyword-threshold", type=float, default=1.0)
    p.add_argument("--min-token-entropy", type=float, default=None,
                   help="token-entropy floor over the scrubbed text "
                        "(drop_reason='low_entropy'; docs under "
                        "entropy_min_words=20 tokens pass)")
    p.add_argument("--token-budget", type=int, default=None,
                   help="GLOBAL per-group token budget applied as a "
                        "post-compaction pass over the labeled keeps "
                        "(writes the <output>/budgeted table)")
    p.add_argument("--budget-by", default="lang",
                   help="grouping column for --token-budget")
    p.add_argument("--max-per-domain", type=int, default=None,
                   help="per-domain output cap applied as a "
                        "post-compaction pass over the labeled keeps "
                        "(writes the <output>/domain_capped table)")
    p.add_argument("--master", default=None)
    p.add_argument("--no-resume", action="store_true",
                   help="ignore an existing manifest and start over")
    p.add_argument("--emit-card", action="store_true",
                   help="write the per-language dataset card "
                        "(docs/kept/token counts/keep rate) to "
                        "<output>/card and print it")
    p.add_argument("--robots-dir", default=None,
                   help="parquet of (domain, robots_txt) rows; kept urls "
                        "whose host has a binding disallow prefix for "
                        "--robots-agent are flagged and written to "
                        "<output>/robots_flagged (audit pass, not a drop)")
    p.add_argument("--robots-agent", default="*")
    args = p.parse_args()

    from dataqualitykit_spark import PipelineConfig, get_spark
    from dataqualitykit_spark.lineage import run_resumable
    from dataqualitykit_spark.pipeline import adapt_documents
    from dataqualitykit_spark.sources.wet import read_wet

    spark = get_spark(app_name="dqx-quality-pipeline", master=args.master)
    if args.format == "wet":
        source = read_wet(spark, args.input)
    elif args.format == "iceberg":
        source = spark.read.format("iceberg").load(args.input)
    else:
        source = spark.read.parquet(args.input)
    if args.adapter == "documents":
        source = adapt_documents(source)

    if args.no_resume:
        import shutil

        shutil.rmtree(args.output, ignore_errors=True)

    blocklist = None
    if args.blocklist_file:
        with open(args.blocklist_file) as f:
            blocklist = tuple(
                ln.strip().lower() for ln in f if ln.strip()
            )
    url_keywords = None
    if args.url_keywords_file:
        pairs = []
        with open(args.url_keywords_file) as f:
            for ln in f:
                parts = ln.split()
                if not parts:
                    continue
                w = parts[0].lower()
                wt = float(parts[1]) if len(parts) > 1 else 1.0
                pairs.append((w, wt))
        url_keywords = tuple(pairs)
    cfg = PipelineConfig(
        salt_partitions=args.salt_partitions,
        dedup_near=args.near_dedup,
        near_dup_threshold=args.near_dup_threshold,
        normalize_urls=args.normalize_urls,
        blocklist=blocklist,
        url_keyword_weights=url_keywords,
        url_keyword_threshold=args.url_keyword_threshold,
        min_token_entropy=args.min_token_entropy,
    )
    manifest = run_resumable(
        spark, source, args.output, n_buckets=args.buckets, cfg=cfg
    )
    total = sum(v["rows"] for v in manifest.state.values())
    print(f"done: {len(manifest.state)} buckets, {total} rows -> {args.output}")

    # GLOBAL token budget: a post-compaction pass over the labeled keeps
    # (run_resumable refuses a per-bucket budget by design — inside each
    # bucket the quota would multiply by n_buckets)
    if args.token_budget is not None:
        from pyspark.sql import functions as F

        from dataqualitykit_spark.operators.sampling import (
            sample_to_token_budget,
        )

        labeled = spark.read.parquet(f"{args.output}/labeled")
        kept = labeled.filter(F.col("keep"))
        budgeted = sample_to_token_budget(
            kept,
            args.token_budget,
            text_col="scrubbed_text",
            id_col="url",
            by=args.budget_by,
            token_expr=F.col("n_words"),
        )
        budgeted.write.mode("overwrite").parquet(f"{args.output}/budgeted")
        print(
            f"budgeted: {args.token_budget} tokens per "
            f"{args.budget_by} group -> {args.output}/budgeted"
        )

    # per-domain output cap: another post-compaction pass over the
    # labeled keeps (the FineWeb diversity cap — no host dominates the
    # output regardless of how many of its pages pass quality)
    if args.max_per_domain is not None:
        from pyspark.sql import functions as F

        from dataqualitykit_spark.functions.text import domain_of
        from dataqualitykit_spark.operators.sampling import cap_per_group

        labeled = spark.read.parquet(f"{args.output}/labeled")
        kept = labeled.filter(F.col("keep")).withColumn(
            "_domain", domain_of(F.col("url"))
        )
        capped = cap_per_group(
            kept, args.max_per_domain, by="_domain", id_col="url"
        ).drop("_domain")
        capped.write.mode("overwrite").parquet(f"{args.output}/domain_capped")
        print(
            f"domain-capped: <= {args.max_per_domain} docs per domain "
            f"-> {args.output}/domain_capped"
        )

    # dataset card: the per-language composition table a release publishes
    if args.emit_card:
        from dataqualitykit_spark.pipeline import dataset_card

        labeled = spark.read.parquet(f"{args.output}/labeled")
        card = dataset_card(labeled)
        card.write.mode("overwrite").parquet(f"{args.output}/card")
        card.orderBy("lang_pred").show(100, truncate=False)
        print(f"card -> {args.output}/card")

    # retroactive robots politeness audit over the kept rows
    if args.robots_dir is not None:
        from pyspark.sql import functions as F

        from dataqualitykit_spark.operators.robots import (
            flag_disallowed,
            parse_robots,
        )

        rules = parse_robots(
            spark.read.parquet(args.robots_dir), agent=args.robots_agent
        )
        labeled = spark.read.parquet(f"{args.output}/labeled")
        kept = labeled.filter(F.col("keep"))
        flagged = flag_disallowed(kept, rules)
        flagged.filter(F.col("robots_disallowed")).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/robots_flagged")
        n = flagged.filter(F.col("robots_disallowed")).count()
        print(
            f"robots audit (agent={args.robots_agent!r}): {n} kept urls "
            f"disallowed -> {args.output}/robots_flagged"
        )
    spark.stop()


if __name__ == "__main__":
    main()
