"""Incremental tier refresh with snapshot checkpoints + resume.

North rule: "resumable from Iceberg-snapshot checkpoints with
per-partition lineage manifests and encode/rollup metrics". The tier
tables are partitioned by day (``dt = to_date(bucket_ts)``) — tumbling
1m/1h/1d buckets nest inside days, so a day partition is a closed,
independently-recomputable unit. A refresh:

  1. plans the day partitions present in the input, and clears from
     metadata alone every day whose input files (path, size, mtime) are
     the files the last commit consumed for it — Iceberg's incremental
     planning from manifest file lists, no data scanned. Days that new
     or changed files touch get a content fingerprint from a scan of
     those days only; an input that is not a bare file scan (a filter,
     a computed column, a cache) is fingerprinted whole;
  2. diffs the planned days against the current snapshot's manifest
     (``TableIO.missing_partitions``) and the recorded fingerprints — a
     killed run resumes here and re-processes ONLY what never
     committed, plus days whose content moved,
  3. aggregates just those days (partition-pruned input scan),
  4. commits a new snapshot carrying forward untouched partitions, with
     per-partition rollup metrics and the days' file identities in the
     manifest.

Gap-fill/encode consume the committed tier table afterwards; their LOCF
carry crosses day boundaries, so they run over the table read, not per
partition (their block outputs are epoch-aligned and idempotent — see
sfa_spark.encode).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import logging
import os
from collections.abc import Callable
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from sfa_spark.rollup import SUMMARY_COLS, reaggregate, rollup_tier
from sfa_spark.scanfix import bare_scan_blocker, local_path, read_footer
from sfa_spark.tableio import TableIO

log = logging.getLogger("sfa_spark")

_UNITS_PER_S = {"milliseconds": 10**3, "microseconds": 10**6, "nanoseconds": 10**9}


class _NoFileIdentity(Exception):
    """Why an input's files cannot stand for its content."""


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
    Rows with a null ``ts_col`` belong to no day and are left out.
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
    return {str(r["dt"]): f'{r["n"]}:{r["h"]}' for r in rows if r["dt"] is not None}


def _input_files(df: DataFrame) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ns) of every file of a bare-scan frame, whose
    rows are exactly its files' rows. ``inputFiles`` runs no Spark job."""
    blocker = bare_scan_blocker(df, exact=True)
    if blocker is not None:
        raise _NoFileIdentity(f"the source is not a bare file scan ({blocker})")
    out = []
    for uri in sorted(df.inputFiles()):
        path = local_path(uri)
        if path is None:
            raise _NoFileIdentity(f"{uri} is not on a local filesystem")
        st = os.stat(path)
        out.append((path, st.st_size, st.st_mtime_ns))
    if not out:
        raise _NoFileIdentity("the source lists no files")
    return out


def _digest(*parts) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:32]


def _stat_day(df: DataFrame, ts_col: str, col) -> Callable[[int], _dt.date]:
    """Map a raw ``ts_col`` footer statistic to the day Spark's
    ``to_date`` gives the same value: naive (``isAdjustedToUTC=false``,
    read as TimestampNTZ) values as they are, instants in
    ``spark.sql.session.timeZone``."""
    spark_type = df.schema[ts_col].dataType
    lt = json.loads(col.logical_type.to_json())
    if col.physical_type != "INT64" or lt.get("Type") != "Timestamp":
        raise _NoFileIdentity(
            f"{ts_col} is stored as {col.physical_type} {lt.get('Type')}, "
            "which carries no usable min/max"
        )
    per_day = _UNITS_PER_S[lt["timeUnit"]] * 86400
    if not lt["isAdjustedToUTC"] and isinstance(spark_type, TimestampNTZType):
        epoch = _dt.date(1970, 1, 1)
        return lambda v: epoch + _dt.timedelta(days=v // per_day)
    if lt["isAdjustedToUTC"] and isinstance(spark_type, TimestampType):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        try:
            zone = ZoneInfo(tz)
        except (ZoneInfoNotFoundError, ValueError):
            raise _NoFileIdentity(f"session time zone {tz} is not an IANA zone") from None
        per_s = per_day // 86400
        return lambda v: _dt.datetime.fromtimestamp(v // per_s, zone).date()
    raise _NoFileIdentity(f"{ts_col} is read as {spark_type.simpleString()} from {lt}")


def _files_by_day(
    df: DataFrame, ts_col: str, source: str
) -> dict[str, list[tuple]]:
    """The input files (and, for raw sources, row groups) each day's rows
    come from: ``{day: [(path, size, mtime_ns[, row group]), …]}``, from
    metadata only. A tier source's day is its ``dt=<day>`` directory; a
    raw parquet source's row group covers every day between its
    ``ts_col`` footer min and max."""
    if source == "tier" and ts_col != "bucket_ts":
        raise _NoFileIdentity(f"days come from {ts_col}, dt= directories from bucket_ts")
    by_day: dict[str, list[tuple]] = {}
    for path, size, mtime in _input_files(df):
        if source == "tier":
            part = os.path.basename(os.path.dirname(path))
            if not part.startswith("dt="):
                raise _NoFileIdentity(f"{path} is not in a dt= partition directory")
            by_day.setdefault(part[3:], []).append((path, size, mtime))
            continue
        footer = read_footer(path)
        if footer is None:
            raise _NoFileIdentity(f"{path} has no readable parquet footer")
        cols = [footer.schema.column(i).path for i in range(footer.num_columns)]
        if ts_col not in cols:
            raise _NoFileIdentity(f"{path} has no column {ts_col}")
        i = cols.index(ts_col)
        to_day = _stat_day(df, ts_col, footer.schema.column(i))
        for rg in range(footer.num_row_groups):
            meta = footer.row_group(rg)
            if meta.num_rows == 0:
                continue
            st = meta.column(i).statistics
            if st is None or not st.has_min_max or not st.has_null_count:
                raise _NoFileIdentity(f"{path} row group {rg} has no min/max for {ts_col}")
            if st.null_count:
                raise _NoFileIdentity(f"{path} row group {rg} has null {ts_col}")
            day, last = to_day(st.min_raw), to_day(st.max_raw)
            while day <= last:
                by_day.setdefault(day.isoformat(), []).append((path, size, mtime, rg))
                day += _dt.timedelta(days=1)
    return by_day


def _day_filter(df: DataFrame, days: list[str], ts_col: str, source: str):
    """``to_date(ts_col) IN days``, plus a predicate the scan can push
    down (``to_date(...).isin`` prunes nothing): the ``dt`` partition
    filter for a tier source, ``ts_col`` ranges for a raw source. Only
    for frames whose file identity was taken, where ``dt`` is the
    partition directory and ``ts_col`` a stored timestamp."""
    pred = F.to_date(ts_col).isin(days)
    if source == "tier":
        if "dt" in df.columns:
            pred = F.col("dt").isin([_dt.date.fromisoformat(d) for d in days]) & pred
        return pred
    ts_type = df.schema[ts_col].dataType
    one = _dt.timedelta(days=1)
    runs: list[list[_dt.date]] = []
    for d in map(_dt.date.fromisoformat, sorted(days)):
        if runs and runs[-1][1] == d:
            runs[-1][1] = d + one
        else:
            runs.append([d, d + one])
    rng = None
    for lo, hi in runs:
        r = (F.col(ts_col) >= F.lit(f"{lo} 00:00:00").cast(ts_type)) & (
            F.col(ts_col) < F.lit(f"{hi} 00:00:00").cast(ts_type)
        )
        rng = r if rng is None else rng | r
    return rng & pred


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
    ``table_root``. Returns {planned, processed, skipped, stale, expired,
    fingerprinted, snapshot}.

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
    full source cheap: when ``events`` is a bare file scan, a day whose
    input files are unchanged is not scanned at all, and only the days
    that new or changed files touch are read.

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

    File identity: when ``events`` is a bare file scan (file relations
    under attribute-only projections and unions — what :func:`read_tier`
    and ``spark.read.parquet(…).select(…)`` return) each day also gets an
    identity digest of the files its rows come from (path, size,
    ``st_mtime_ns``, and for raw parquet the row groups whose ``ts_col``
    footer min/max span the day), the consumed columns, ``source``,
    ``tier`` and the session time zone (``input_files_by_day``). A day
    whose digest equals the recorded one keeps its recorded fingerprint
    without a scan; every other day is fingerprinted by content, from a
    scan of those days only. ``fingerprinted`` lists the days whose
    content was scanned. Any other input — or one whose files the
    metadata cannot place in days (no footer min/max for ``ts_col``,
    nulls in it, a remote filesystem) — is fingerprinted whole, and the
    reason is logged on the ``sfa_spark`` logger. A file rewritten in
    place keeps its identity only if its size and nanosecond mtime do
    not change, which assumes a filesystem with sub-second mtimes.
    """
    tio = TableIO(table_root)
    consumed = (
        key_cols + ["bucket_ts", *SUMMARY_COLS]
        if source == "tier"
        else key_cols + [ts_col, value_col]
    )
    manifest_metrics = (tio.manifest() or {}).get("metrics", {})
    # retention is manifest state: days at/before the recorded cutoff were
    # deliberately dropped (expire_tier) — they are EXPIRED, not missing,
    # and must not be resurrected from the cumulative source
    cutoff = manifest_metrics.get("retention_cutoff_day", "")
    prev_fps = manifest_metrics.get("input_fp_by_day", {})
    prev_ids = manifest_metrics.get("input_files_by_day", {})
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        ids = {
            d: _digest(entries, source, tier, consumed, tz)
            for d, entries in _files_by_day(events, ts_col, source).items()
        }
    except _NoFileIdentity as e:
        log.info("refresh_tier %s: fingerprinting every day by content: %s", table_root, e)
        ids = None
    if ids is None:
        per_day = _day_fingerprints(events, consumed, ts_col)
        fingerprinted = sorted(per_day)
        expired = sorted(d for d in per_day if d < cutoff)
    else:
        expired = sorted(d for d in ids if d < cutoff)
        live = sorted(d for d in ids if d >= cutoff)
        # a day whose files are the ones its recorded fingerprint was
        # taken from keeps that fingerprint, unscanned
        per_day = {
            d: prev_fps[d] for d in live if d in prev_fps and prev_ids.get(d) == ids[d]
        }
        scan = [d for d in live if d not in per_day]
        fingerprinted = []
        if scan:
            scanned = _day_fingerprints(
                events.filter(_day_filter(events, scan, ts_col, source)), consumed, ts_col
            )
            per_day.update(scanned)
            fingerprinted = sorted(scanned)
    planned = sorted(d for d in per_day if d >= cutoff)
    missing = set(tio.missing_partitions(planned))
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
            "fingerprinted": fingerprinted,
            "snapshot": tio.current_snapshot(),
        }
    if ids is None:
        slice_df = events.filter(F.to_date(ts_col).isin(to_process))
    else:
        slice_df = events.filter(_day_filter(events, to_process, ts_col, source))
    if source == "tier":
        agg_df = reaggregate(slice_df, key_cols, tier)
    else:
        agg_df = rollup_tier(slice_df, key_cols, ts_col, value_col, tier)
    # an identity is recorded next to a fingerprint taken from the same
    # files: for the days processed now and those the scan found
    # unchanged. A processed day without one loses its old identity; a
    # stale day left unprocessed keeps it, as it keeps its fingerprint
    cleared = set(fingerprinted) - set(stale) - missing
    new_ids = {d: v for d, v in prev_ids.items() if d not in to_process}
    if ids is not None:
        new_ids.update({d: ids[d] for d in cleared.union(to_process) & set(ids)})
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
            "input_files_by_day": new_ids,
        },
        partition_stats={"rollup_rows_by_day": "*"},
    )
    return {
        "planned": planned,
        "processed": to_process,
        "skipped": sorted(set(planned) - set(to_process)),
        "stale": stale,
        "expired": expired,
        "fingerprinted": fingerprinted,
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
    tier. Returns {planned, processed, skipped, stale, vanished,
    fingerprinted, snapshot}.

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

    Staleness mirrors :func:`refresh_tier`. When ``tier_df`` is a bare
    file scan, each commit records one identity digest of the whole
    input (``input_files_digest``: every file's path, size and
    ``st_mtime_ns``, the consumed columns, ``tier`` and ``n_buckets``);
    a refresh whose input has the recorded digest is a no-op that scans
    nothing. Otherwise a per-bucket content fingerprint (row count +
    order-independent xxhash64 sum over the consumed columns) is taken
    from a scan of the whole input (``fingerprinted`` lists the buckets)
    and compared with the recorded one: a planned bucket missing from
    the manifest (fresh build, resume after a kill, or an ``n_buckets``
    change) is computed, a committed bucket whose fingerprint moved is
    stale. Per-bucket encode metrics (points, raw/encoded bytes) land in
    the manifest — the north rule's per-partition lineage manifests +
    encode metrics — summed from the staged block files, not from a
    pass over the blocks.
    """
    from sfa_spark.encode import encode_tier_blocks_gapfill

    tio = TableIO(table_root)
    kb = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
    consumed = [*key_cols, ts_col, value_col]
    prev = (tio.manifest() or {}).get("metrics", {})
    try:
        digest = _digest(_input_files(tier_df), consumed, tier, n_buckets)
    except _NoFileIdentity as e:
        log.info("refresh_encoded_tier %s: fingerprinting every bucket by content: %s", table_root, e)
        digest = None
    # an n_buckets change invalidates the whole partitioning scheme:
    # every bucket is rebuilt under the new hashing and NOTHING from the
    # old scheme is carried forward (old out-of-range partitions would
    # otherwise survive and serve their keys' history twice)
    rebucket = (
        prev.get("n_buckets") is not None and prev.get("n_buckets") != n_buckets
    )
    if digest is not None and not rebucket and digest == prev.get("input_files_digest"):
        planned = sorted(tio.done_partitions(), key=int)
        return {
            "planned": planned,
            "processed": [],
            "skipped": planned,
            "stale": [],
            "vanished": [],
            "fingerprinted": [],
            "snapshot": tio.current_snapshot(),
        }
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
    # the digest stands for the table only once every planned bucket is
    # committed from this input: not while stale buckets are left behind
    digest = digest if recompute_stale or not stale else None
    if vanished:
        # the gc commit is the last one when nothing else is processed
        tio.drop_partitions(
            vanished,
            job=f"{job}_gc",
            metrics={"input_files_digest": None if to_process else digest},
        )
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
            "fingerprinted": planned,
            "snapshot": tio.current_snapshot(),
        }
    sub = tier_df.filter(kb.isin([int(b) for b in to_process]))
    blocks = encode_tier_blocks_gapfill(
        sub, key_cols, tier=tier, value_col=value_col, ts_col=ts_col
    ).withColumn("kb", kb)
    snap = tio.write_snapshot(
        blocks,
        "kb",
        job=job,
        metrics={
            "tier": tier,
            "n_buckets": n_buckets,
            "fp_by_bucket": {**prev_fps, **{b: per_bucket[b] for b in to_process}},
            "encode_by_bucket": prev_enc,
            "input_files_digest": digest,
        },
        partition_stats={
            "encode_by_bucket": {"points": "sum(n)", "raw_bytes": "sum(raw_bytes)", "enc_bytes": "sum(enc_bytes)"}
        },
        # on a rebucket nothing from the old scheme may survive
        carry_forward=not rebucket,
    )
    return {
        "planned": planned,
        "processed": to_process,
        "skipped": sorted(set(planned) - set(to_process), key=int),
        "stale": stale,
        "vanished": vanished,
        "fingerprinted": planned,
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
