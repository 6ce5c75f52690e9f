"""spark-submit entry point for the flagship pipeline.

Cluster:
  spark-submit --py-files sfa_spark.zip jobs/run_pipeline.py \
      --pages /data/pages_parquet --out /tables/tiers --tiers 1m 1h 1d

Local smoke (no cluster): generates the deterministic CC-style table.

Steps: pages → extract+signals → tier cascade → incremental snapshot
commit per tier (day-partitioned, resumable) → fused gap-fill + Gorilla/
DoD block encode → metrics JSON on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet dir of (url, warc_ts, html, text, lang); omit to synthesize")
    ap.add_argument("--out", default="/tmp/sfa_spark_tiers")
    ap.add_argument("--tiers", nargs="+", default=["1m", "1h", "1d"])
    ap.add_argument("--n-urls", type=int, default=400, help="synthetic scale when --pages omitted")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--keep-days",
        type=int,
        default=None,
        help="retention window per tier: expire day partitions older than "
        "KEEP_DAYS before the newest committed day (metadata-only commit; "
        "omit to keep everything)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sfa_spark.incremental import (
        expire_tier,
        read_tier,
        refresh_encoded_tier,
        refresh_tier,
    )
    from sfa_spark.pipeline import signals_long
    from sfa_spark.session import get_spark
    from sfa_spark.tableio import TableIO

    spark = get_spark("sfa_pipeline", cores=args.cores)

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        from sfa_spark.generator import generate_pages

        pages = generate_pages(spark, n_urls=args.n_urls)

    signals = signals_long(pages).withColumn(
        "series_key", F.xxhash64("url", "signal")
    )

    # tier CASCADE: only the finest tier reads raw signals; each coarser
    # tier re-aggregates the previous tier's committed snapshot — one raw
    # scan total, not one per tier
    report: dict = {"tiers": {}}
    prev_root = None
    for tier in args.tiers:
        root = os.path.join(args.out, f"tier_{tier}")
        if prev_root is None:
            r = refresh_tier(
                spark, signals, root, ["series_key"], "warc_ts", "value",
                tier=tier, job=f"pipeline_{tier}",
            )
        else:
            finer = read_tier(spark, prev_root)
            r = refresh_tier(
                spark, finer, root, ["series_key"], "bucket_ts", "value",
                tier=tier, job=f"pipeline_{tier}", source="tier",
            )
        prev_root = root
        report["tiers"][tier] = {
            "snapshot": r["snapshot"],
            "processed_days": len(r["processed"]),
            "skipped_days": len(r["skipped"]),
            "stale_days": len(r.get("stale", [])),
            # days scanned for a content fingerprint: the rest were
            # cleared from their unchanged input files
            "fingerprinted_days": len(r["fingerprinted"]),
        }
        if args.keep_days is not None:
            # retention anchored to the DATA's newest committed day, not
            # wall clock — deterministic and re-runnable; expired days
            # are fenced from future refreshes by the persisted cutoff
            import datetime as _dt

            tio = TableIO(root)
            days = sorted(tio.done_partitions())
            if days:
                now = _dt.datetime.fromisoformat(days[-1]) + _dt.timedelta(days=1)
                e = expire_tier(root, now, keep_seconds=args.keep_days * 86400)
                report["tiers"][tier]["expired_days"] = len(e["dropped"])
        # staging GC runs unconditionally (not only under --keep-days):
        # a writer killed mid-stage leaks .stage-* data regardless of
        # whether retention is configured
        report["tiers"][tier]["gc_staging"] = len(TableIO(root).gc_stale_staging())

    # encode the finest tier from its committed snapshot

    # ... into its own MAINTAINED snapshot table (key-bucket partitioned;
    # a re-run after late data re-encodes only the touched buckets)
    finest = args.tiers[0]
    tier_df = read_tier(spark, os.path.join(args.out, f"tier_{finest}"))
    enc_root = os.path.join(args.out, f"encoded_{finest}")
    r = refresh_encoded_tier(
        spark, tier_df, enc_root, ["series_key"], tier=finest,
        job=f"pipeline_encode_{finest}",
    )
    # the encoded table's staging leaks too (its staged data — fully
    # re-encoded buckets — is the largest in the job)
    enc_gc = len(TableIO(enc_root).gc_stale_staging())
    enc = (TableIO(enc_root).manifest() or {}).get("metrics", {}).get(
        "encode_by_bucket", {}
    )
    report["encode"] = {
        "tier": finest,
        "snapshot": r["snapshot"],
        "processed_buckets": len(r["processed"]),
        "skipped_buckets": len(r["skipped"]),
        "vanished_buckets": len(r.get("vanished", [])),
        "fingerprinted_buckets": len(r["fingerprinted"]),
        "gc_staging": enc_gc,
        "points": sum(v["points"] for v in enc.values()),
        "ratio": round(
            sum(v["enc_bytes"] for v in enc.values())
            / max(sum(v["raw_bytes"] for v in enc.values()), 1),
            4,
        ),
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
