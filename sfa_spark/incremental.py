"""Incremental tier refresh with snapshot checkpoints + resume.

North rule: "resumable from Iceberg-snapshot checkpoints with
per-partition lineage manifests and encode/rollup metrics". The tier
tables are partitioned by day (``dt = to_date(bucket_ts)``) — tumbling
1m/1h/1d buckets nest inside days, so a day partition is a closed,
independently-recomputable unit. A refresh:

  1. plans the day partitions present in the input slice,
  2. diffs them against the current snapshot's manifest
     (``TableIO.missing_partitions``) — a killed run resumes here and
     re-processes ONLY what never committed,
  3. aggregates just the missing days (partition-pruned input scan),
  4. commits a new snapshot carrying forward untouched partitions, with
     per-partition rollup metrics in the manifest.

Gap-fill/encode consume the committed tier table afterwards; their LOCF
carry crosses day boundaries, so they run over the table read, not per
partition (their block outputs are epoch-aligned and idempotent — see
sfa_spark.encode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfa_spark.rollup import SUMMARY_COLS, reaggregate, rollup_tier
from sfa_spark.tableio import TableIO


def _day_fingerprints(
    events: DataFrame, cols: list[str], ts_col: str
) -> dict[str, str]:
    """Content fingerprint per day over the CONSUMED columns: row count +
    order-independent sum of per-row xxhash64, as ``"count:hashsum"``.

    Row count alone misses late data that lands in already-present
    buckets (changes values, not counts) — the tier cascade (1h refreshed
    from the 1m snapshot) would then silently keep stale aggregates. The
    hash sum is accumulated in decimal(38,0) so it cannot overflow under
    ANSI mode at any realistic row count; one hash agg, map-side partial.
    """
    rows = (
        events.groupBy(F.to_date(ts_col).alias("dt"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*cols).cast("decimal(38,0)")
            ).alias("h"),
        )
        .collect()
    )
    return {str(r["dt"]): f'{r["n"]}:{r["h"]}' for r in rows}


def refresh_tier(
    spark: SparkSession,
    events: DataFrame,
    table_root: str,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    job: str = "refresh",
    source: str = "raw",
    recompute_stale: bool = True,
) -> dict:
    """Incrementally roll up ``events`` into the tier table at
    ``table_root``. Returns {planned, processed, skipped, stale, snapshot}.

    ``source="raw"`` aggregates raw points (:func:`rollup_tier`);
    ``source="tier"`` re-aggregates a FINER tier table
    (:func:`reaggregate`) — the cascade path: 1h refreshes from the
    committed 1m snapshot, 1d from 1h, so raw data is scanned exactly
    once per refresh across all tiers.

    **Contract: ``events`` must be the FULL cumulative source for every
    day it contains** (the raw table, or the committed finer-tier
    snapshot), not an incremental delta — stale/missing day partitions
    are rebuilt solely from ``events``, so a delta would replace a
    committed day with partial data. Day-level pruning makes passing the
    full source cheap: untouched days are skipped without being scanned
    beyond the fingerprint aggregate.

    Late-data detection: each commit records a per-day CONTENT
    fingerprint of the consumed input columns (``input_fp_by_day``:
    row count + order-independent xxhash64 sum, cumulative across the
    lineage). A planned day that is already committed but whose
    fingerprint differs is **stale** — late rows landed in a closed day,
    even if they changed bucket values without changing row counts (the
    cascade case: 1h refreshed from a revised 1m snapshot). A committed
    day with NO recorded fingerprint (legacy snapshot) is conservatively
    treated as stale so it becomes detectable afterwards. With
    ``recompute_stale`` (default) stale partitions are recomputed in
    place (day partitions are closed, independently-recomputable units);
    otherwise they are only surfaced in the returned dict.
    """
    tio = TableIO(table_root)
    consumed = (
        key_cols + ["bucket_ts", *SUMMARY_COLS]
        if source == "tier"
        else key_cols + [ts_col, value_col]
    )
    per_day = _day_fingerprints(events, consumed, ts_col)
    manifest_metrics = (tio.manifest() or {}).get("metrics", {})
    # retention is manifest state: days at/before the recorded cutoff were
    # deliberately dropped (expire_tier) — they are EXPIRED, not missing,
    # and must not be resurrected from the cumulative source
    cutoff = manifest_metrics.get("retention_cutoff_day", "")
    expired = sorted(d for d in per_day if d < cutoff)
    planned = sorted(d for d in per_day if d >= cutoff)
    missing = set(tio.missing_partitions(planned))
    prev_fps = manifest_metrics.get("input_fp_by_day", {})
    stale = sorted(
        d
        for d in planned
        if d not in missing and prev_fps.get(d) != per_day[d]
    )
    to_process = sorted(missing | set(stale)) if recompute_stale else sorted(missing)
    if not to_process:
        return {
            "planned": planned,
            "processed": [],
            "skipped": planned,
            "stale": stale,
            "expired": expired,
            "snapshot": tio.current_snapshot(),
        }
    slice_df = events.filter(F.to_date(ts_col).isin(to_process))
    if source == "tier":
        agg_df = reaggregate(slice_df, key_cols, tier)
    else:
        agg_df = rollup_tier(slice_df, key_cols, ts_col, value_col, tier)
    # rollup_rows_by_day is summed from the written files' footers, so
    # the rollup runs once, in the write
    snap = tio.write_snapshot(
        agg_df.withColumn("dt", F.to_date("bucket_ts")),
        "dt",
        job=job,
        metrics={
            "tier": tier,
            "input_fp_by_day": {
                **prev_fps,
                **{d: per_day[d] for d in to_process},
            },
        },
        rows_metric="rollup_rows_by_day",
    )
    return {
        "planned": planned,
        "processed": to_process,
        "skipped": sorted(set(planned) - set(to_process)),
        "stale": stale,
        "expired": expired,
        "snapshot": snap,
    }


def read_tier(spark: SparkSession, table_root: str) -> DataFrame:
    return TableIO(table_root).read(spark)


def refresh_encoded_tier(
    spark: SparkSession,
    tier_df: DataFrame,
    table_root: str,
    key_cols: list[str],
    tier: str = "1m",
    value_col: str = "last",
    ts_col: str = "bucket_ts",
    n_buckets: int = 64,
    job: str = "encode_refresh",
    recompute_stale: bool = True,
) -> dict:
    """Incrementally maintain the ENCODED blocks table from a committed
    tier. Returns {planned, processed, skipped, stale, snapshot}.

    The encoded table is partitioned by key-hash bucket
    (``kb = pmod(xxhash64(keys), n_buckets)``), NOT by day: a block's
    bytes depend on the key's whole history up to the block end (the
    LOCF carry crosses epoch-aligned blocks), so time-sliced maintenance
    would need carry-chain reasoning across partitions — key-sliced
    maintenance doesn't. Late data for a key invalidates only that key's
    bucket; the refresh re-encodes the full history of stale buckets
    (work ∝ touched-buckets/n_buckets of the table, the Iceberg
    rewrite-affected-file-groups shape) and carries every other bucket's
    files forward by reference in the new snapshot manifest.

    Staleness mirrors :func:`refresh_tier`: a per-bucket content
    fingerprint (row count + order-independent xxhash64 sum over the
    consumed columns) is recorded at each commit; a planned bucket
    missing from the manifest (fresh build, resume after a kill, or an
    ``n_buckets`` change) is computed, a committed bucket whose
    fingerprint moved is stale. Per-bucket encode metrics (points, raw/
    encoded bytes) land in the manifest — the north rule's per-partition
    lineage manifests + encode metrics.
    """
    from sfa_spark.encode import encode_tier_blocks_gapfill

    tio = TableIO(table_root)
    kb = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
    consumed = [*key_cols, ts_col, value_col]
    rows = (
        tier_df.groupBy(kb.alias("kb"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*consumed).cast("decimal(38,0)")).alias("h"),
        )
        .collect()
    )
    per_bucket = {str(r["kb"]): f'{r["n"]}:{r["h"]}' for r in rows}
    planned = sorted(per_bucket, key=int)
    prev = (tio.manifest() or {}).get("metrics", {})
    # an n_buckets change invalidates the whole partitioning scheme:
    # every bucket is rebuilt under the new hashing and NOTHING from the
    # old scheme is carried forward (old out-of-range partitions would
    # otherwise survive and serve their keys' history twice)
    rebucket = (
        prev.get("n_buckets") is not None and prev.get("n_buckets") != n_buckets
    )
    if rebucket:
        missing = set(planned)
        prev_fps: dict = {}
        prev_enc: dict = {}
        vanished: list[str] = []  # the rebucket commit drops everything old
    else:
        missing = set(tio.missing_partitions(planned))
        prev_fps = prev.get("fp_by_bucket", {})
        prev_enc = prev.get("encode_by_bucket", {})
        # committed buckets whose keys ALL disappeared from the source
        # (e.g. fully expired) are neither planned nor stale — without
        # an explicit drop their files + fp/encode bookkeeping would be
        # carried forward forever and read_encoded_tier would keep
        # serving the deleted history
        vanished = sorted(tio.done_partitions() - set(per_bucket), key=int)
    stale = sorted(
        (b for b in planned if b not in missing and prev_fps.get(b) != per_bucket[b]),
        key=int,
    )
    to_process = (
        sorted(missing | set(stale), key=int)
        if recompute_stale
        else sorted(missing, key=int)
    )
    if vanished:
        tio.drop_partitions(vanished, job=f"{job}_gc")
        # prev_fps/prev_enc were captured BEFORE the gc commit — prune the
        # dropped buckets so a subsequent data commit in this same refresh
        # doesn't resurrect their bookkeeping via the {**prev, ...} merge
        prev_fps = {b: v for b, v in prev_fps.items() if b not in vanished}
        prev_enc = {b: v for b, v in prev_enc.items() if b not in vanished}
    if not to_process:
        return {
            "planned": planned,
            "processed": [],
            "skipped": planned,
            "stale": stale,
            "vanished": vanished,
            "snapshot": tio.current_snapshot(),
        }
    sub = tier_df.filter(kb.isin([int(b) for b in to_process]))
    blocks = (
        encode_tier_blocks_gapfill(
            sub, key_cols, tier=tier, value_col=value_col, ts_col=ts_col
        )
        .withColumn("kb", kb)
        .cache()
    )
    enc_by_bucket = {
        str(r["kb"]): {
            "points": r["pts"],
            "raw_bytes": r["raw"],
            "enc_bytes": r["enc"],
        }
        for r in blocks.groupBy("kb")
        .agg(
            F.sum("n").alias("pts"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("enc_bytes").alias("enc"),
        )
        .collect()
    }
    snap = tio.write_snapshot(
        blocks,
        "kb",
        job=job,
        metrics={
            "tier": tier,
            "n_buckets": n_buckets,
            "fp_by_bucket": {**prev_fps, **{b: per_bucket[b] for b in to_process}},
            "encode_by_bucket": {**prev_enc, **enc_by_bucket},
        },
        # on a rebucket nothing from the old scheme may survive
        carry_forward=not rebucket,
    )
    blocks.unpersist()
    return {
        "planned": planned,
        "processed": to_process,
        "skipped": sorted(set(planned) - set(to_process), key=int),
        "stale": stale,
        "vanished": vanished,
        "snapshot": snap,
    }


def expire_tier(
    table_root: str,
    now_ts,
    keep_seconds: int,
    job: str = "retention",
) -> dict:
    """Enforce a tier's retention window on its SNAPSHOT TABLE: day
    partitions wholly older than ``now_ts - keep_seconds`` are dropped
    from the manifest in one metadata-only commit (no data scanned or
    rewritten — the 100 TB retention path; rollup.apply_retention is the
    read-side filter for sub-day precision within the boundary day).

    ``now_ts`` is an explicit datetime/date (never wall clock —
    determinism). Day keys are ISO dates, so the lexicographic compare
    is chronological. Returns {dropped, kept, snapshot}.
    """
    import datetime as _dt

    tio = TableIO(table_root)
    m = tio.manifest()
    if isinstance(now_ts, str):
        now_ts = _dt.datetime.fromisoformat(now_ts)
    cutoff_day = (now_ts - _dt.timedelta(seconds=keep_seconds)).date().isoformat()
    parts = sorted(m["partitions"]) if m else []
    drop = [pk for pk in parts if pk < cutoff_day]
    # the cutoff is CUMULATIVE monotone manifest state: refresh_tier
    # consults it so expired days are never resurrected from the (still
    # cumulative) input source on the next refresh. The monotone max is
    # evaluated against the manifest UNDER the commit lock (metrics_fn) —
    # two concurrent expires with different windows would otherwise both
    # read the same prev_cut and the later commit could REGRESS the
    # cutoff, resurrecting days the other writer dropped
    prev_cut = (m or {}).get("metrics", {}).get("retention_cutoff_day", "")

    def merge_cutoff(cur: dict) -> dict:
        # record keep_seconds only when THIS writer's cutoff wins the
        # monotone max — under concurrent expires with different windows
        # a last-writer-wins keep_seconds could otherwise sit next to a
        # cutoff it didn't produce (informational inconsistency)
        if cutoff_day > cur.get("retention_cutoff_day", ""):
            return {
                "retention_cutoff_day": cutoff_day,
                "keep_seconds": keep_seconds,
            }
        return {"retention_cutoff_day": cur.get("retention_cutoff_day", "")}

    if drop:
        snap = tio.drop_partitions(drop, job=job, metrics_fn=merge_cutoff)
    elif cutoff_day > prev_cut:
        # nothing committed falls inside the expired range, but the
        # cutoff still advanced — persist it as a metadata-only commit
        # so days that exist only in the cumulative source (expire
        # before first refresh, or cutoff sweeping past never-committed
        # days) are fenced from a later refresh_tier resurrection
        snap = tio.commit_metrics(job=job, metrics_fn=merge_cutoff)
    else:
        snap = None
    return {
        "dropped": drop if snap else [],
        "kept": [pk for pk in parts if pk >= cutoff_day],
        "snapshot": snap or tio.current_snapshot(),
    }


def read_encoded_tier(spark: SparkSession, table_root: str, key_cols: list[str]) -> DataFrame:
    """Cold-tier read path: the encoded-blocks snapshot table back to
    dense (key…, bucket_ts, value) rows (decode_blocks over the current
    snapshot; pair with :func:`refresh_encoded_tier`)."""
    from sfa_spark.encode import decode_blocks

    return decode_blocks(TableIO(table_root).read(spark).drop("kb"), key_cols)
