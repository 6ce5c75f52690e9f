"""Incremental refresh + kill-and-resume: process only missing day
partitions; resumed output equals a one-shot full recompute exactly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfa_spark.incremental import read_tier, refresh_tier
from sfa_spark.rollup import rollup_tier

KEY = ["user_id"]


def test_incremental_refresh_and_resume(spark, events, tmp_path):
    root = str(tmp_path / "tier_1h")
    days = sorted(
        str(r["dt"]) for r in events.select(F.to_date("ts").alias("dt")).distinct().collect()
    )
    first_half = events.filter(F.to_date("ts").isin(days[: len(days) // 2]))

    # run 1: half the input
    r1 = refresh_tier(spark, first_half, root, KEY, "ts", "value")
    assert r1["processed"] == days[: len(days) // 2]

    # "kill": nothing else committed. run 2: FULL input — resume processes
    # only the missing days
    r2 = refresh_tier(spark, events, root, KEY, "ts", "value")
    assert r2["processed"] == days[len(days) // 2 :]
    assert r2["skipped"] == days[: len(days) // 2]

    # run 3: idempotent — nothing to do
    r3 = refresh_tier(spark, events, root, KEY, "ts", "value")
    assert r3["processed"] == [] and r3["snapshot"] == r2["snapshot"]

    # final table == one-shot recompute, bit-exact
    got = (
        read_tier(spark, root)
        .select("user_id", "bucket_ts", "n", "sum", "min", "max", "first", "last")
        .toPandas()
        .sort_values(["user_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        rollup_tier(events, KEY, "ts", "value", "1h")
        .toPandas()
        .sort_values(["user_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n"].values == want["n"].values).all()
    for c in ("min", "max", "first", "last"):
        np.testing.assert_array_equal(got[c].values, want[c].values)
    np.testing.assert_allclose(got["sum"].values, want["sum"].values, rtol=1e-12)

    # lineage carries per-partition rollup metrics
    from sfa_spark.tableio import TableIO

    chain = TableIO(root).lineage()
    assert len(chain) == 2
    assert all("rollup_rows_by_day" in m["metrics"] for m in chain)


def test_late_data_detected_and_recomputed(spark, events, tmp_path):
    """A committed day receiving late rows must be flagged stale and
    recomputed — not silently dropped."""
    root = str(tmp_path / "tier_late")
    days = sorted(
        str(r["dt"]) for r in events.select(F.to_date("ts").alias("dt")).distinct().collect()
    )
    target = days[0]
    # drop half the target day's rows, commit
    partial = events.filter(
        (F.to_date("ts") != target) | (F.xxhash64("event_id") % 2 == 0)
    )
    r1 = refresh_tier(spark, partial, root, KEY, "ts", "value")
    assert target in r1["processed"]

    # late rows arrive: full input. target day row count differs -> stale
    r2 = refresh_tier(spark, events, root, KEY, "ts", "value")
    assert r2["stale"] == [target]
    assert target in r2["processed"]

    # the table now equals a one-shot recompute of the full input
    got = (
        read_tier(spark, root)
        .groupBy()
        .agg(F.sum("n").alias("pts"))
        .collect()[0]["pts"]
    )
    want = (
        rollup_tier(events, KEY, "ts", "value", "1h")
        .groupBy()
        .agg(F.sum("n").alias("pts"))
        .collect()[0]["pts"]
    )
    assert got == want

    # detection only (recompute_stale=False) surfaces without processing
    partial2 = events.filter(
        (F.to_date("ts") != target) | (F.xxhash64("event_id") % 4 == 0)
    )
    r3 = refresh_tier(spark, partial2, root, KEY, "ts", "value", recompute_stale=False)
    assert r3["stale"] == [target] and r3["processed"] == []


def test_cascade_stale_when_values_change_but_counts_dont(spark, events, tmp_path):
    """Late data that revises 1m bucket VALUES without changing the 1m row
    count for a day must still flag the 1h day stale (content fingerprint,
    not count) and recompute it."""
    root_1m = str(tmp_path / "cs_1m")
    root_1h = str(tmp_path / "cs_1h")
    days = sorted(
        str(r["dt"]) for r in events.select(F.to_date("ts").alias("dt")).distinct().collect()
    )
    target = days[0]
    # same rows, but one day's values perturbed -> same counts everywhere
    perturbed = events.withColumn(
        "value",
        F.when(F.to_date("ts") == target, F.col("value") + F.lit(1000.0)).otherwise(
            F.col("value")
        ),
    )
    refresh_tier(spark, perturbed, root_1m, KEY, "ts", "value", tier="1m")
    t1m = read_tier(spark, root_1m)
    refresh_tier(spark, t1m, root_1h, KEY, "bucket_ts", "value", tier="1h", source="tier")

    # the corrected data arrives: 1m day is stale (value fingerprint differs,
    # count identical) and is recomputed
    r_1m = refresh_tier(spark, events, root_1m, KEY, "ts", "value", tier="1m")
    assert r_1m["stale"] == [target]
    # cascade: 1h sees revised 1m VALUES for the day, same 1m row count
    t1m = read_tier(spark, root_1m)
    r_1h = refresh_tier(
        spark, t1m, root_1h, KEY, "bucket_ts", "value", tier="1h", source="tier"
    )
    assert target in r_1h["stale"] and target in r_1h["processed"]

    got = (
        read_tier(spark, root_1h)
        .groupBy()
        .agg(F.sum("sum").alias("s"))
        .collect()[0]["s"]
    )
    want = (
        rollup_tier(events, KEY, "ts", "value", "1h")
        .groupBy()
        .agg(F.sum("sum").alias("s"))
        .collect()[0]["s"]
    )
    assert abs(got - want) < 1e-6


def test_tier_cascade_from_committed_snapshot(spark, events, tmp_path):
    """1h refreshed FROM the committed 1m table (source='tier') must equal
    the direct raw->1h rollup exactly."""
    import numpy as np

    root_1m = str(tmp_path / "casc_1m")
    root_1h = str(tmp_path / "casc_1h")
    refresh_tier(spark, events, root_1m, KEY, "ts", "value", tier="1m")
    t1m = read_tier(spark, root_1m)
    refresh_tier(
        spark, t1m, root_1h, KEY, "bucket_ts", "value", tier="1h", source="tier"
    )
    got = (
        read_tier(spark, root_1h)
        .select("user_id", "bucket_ts", "n", "sum", "min", "max", "first", "last")
        .toPandas()
        .sort_values(["user_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        rollup_tier(events, KEY, "ts", "value", "1h")
        .toPandas()
        .sort_values(["user_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["n"].values == want["n"].values).all()
    for c in ("min", "max", "first", "last"):
        np.testing.assert_array_equal(got[c].values, want[c].values)
    np.testing.assert_allclose(got["sum"].values, want["sum"].values, rtol=1e-12)


def test_refresh_encoded_tier_bucket_incremental(spark, events, tmp_path):
    """Encoded-blocks maintenance: initial build commits every key
    bucket; an unchanged refresh is a no-op; late data for ONE key
    recomputes exactly that key's bucket (others carried forward by
    reference); the final decoded table is bit-identical to a full
    rebuild over the revised tier."""
    from sfa_spark.encode import decode_blocks, encode_tier_blocks_gapfill
    from sfa_spark.incremental import refresh_encoded_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "enc_1m")
    nb = 8
    tier = rollup_tier(events, KEY, "ts", "value", "1m").cache()

    r1 = refresh_encoded_tier(spark, tier, root, KEY, tier="1m", n_buckets=nb)
    assert r1["processed"] == r1["planned"] and r1["stale"] == []

    r2 = refresh_encoded_tier(spark, tier, root, KEY, tier="1m", n_buckets=nb)
    assert r2["processed"] == [] and r2["snapshot"] == r1["snapshot"]

    # late data: shift one key's value in one bucket → one stale bucket
    uid = int(tier.select("user_id").first()["user_id"])
    late_tier = tier.withColumn(
        "last",
        F.when(F.col("user_id") == uid, F.col("last") + 1.0).otherwise(
            F.col("last")
        ),
    )
    r3 = refresh_encoded_tier(spark, late_tier, root, KEY, tier="1m", n_buckets=nb)
    expected_kb = str(
        tier.filter(F.col("user_id") == uid)
        .select(F.pmod(F.xxhash64("user_id"), F.lit(nb)).cast("int").alias("kb"))
        .first()["kb"]
    )
    assert r3["stale"] == [expected_kb]
    assert r3["processed"] == [expected_kb]
    assert set(r3["skipped"]) == set(r1["planned"]) - {expected_kb}

    # untouched buckets' files are referenced from the FIRST snapshot
    m = TableIO(root).manifest()
    carried = [
        p for k, p in m["partitions"].items() if k != expected_kb
    ]
    assert all(p["path"].startswith(r1["snapshot"]) for p in carried)
    # per-bucket encode metrics recorded for every bucket
    assert set(m["metrics"]["encode_by_bucket"]) == set(r1["planned"])

    from sfa_spark.incremental import read_encoded_tier

    got = (
        read_encoded_tier(spark, root, KEY)
        .toPandas()
        .sort_values(["user_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        decode_blocks(encode_tier_blocks_gapfill(late_tier, KEY, tier="1m"), KEY)
        .toPandas()
        .sort_values(["user_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    np.testing.assert_array_equal(
        got["value"].values.view(np.uint64), want["value"].values.view(np.uint64)
    )
    np.testing.assert_array_equal(
        got["bucket_ts"].values, want["bucket_ts"].values
    )
    tier.unpersist()


def test_refresh_encoded_tier_rebucket_full_rebuild(spark, events, tmp_path):
    """Changing n_buckets invalidates the partitioning scheme: every new
    bucket is rebuilt and NO old-scheme partition survives (old
    out-of-range buckets would otherwise serve keys' history twice)."""
    from sfa_spark.incremental import read_encoded_tier, refresh_encoded_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "enc_rebucket")
    tier = rollup_tier(events, KEY, "ts", "value", "1m").cache()
    r1 = refresh_encoded_tier(spark, tier, root, KEY, tier="1m", n_buckets=8)
    assert len(r1["planned"]) <= 8

    r2 = refresh_encoded_tier(spark, tier, root, KEY, tier="1m", n_buckets=4)
    assert r2["processed"] == r2["planned"]  # full rebuild
    tio = TableIO(root)
    assert all(int(k) < 4 for k in tio.done_partitions())
    m = tio.manifest()
    assert m["metrics"]["n_buckets"] == 4
    assert set(m["metrics"]["fp_by_bucket"]) == set(r2["planned"])

    got = read_encoded_tier(spark, root, KEY).toPandas()
    # no key's history appears twice
    assert not got.duplicated(subset=["user_id", "bucket_ts"]).any()
    tier.unpersist()


def test_refresh_encoded_tier_drops_vanished_buckets(spark, events, tmp_path):
    """ADVICE r3 (low): a bucket whose keys ALL disappeared from the
    source (e.g. fully expired) must be dropped from the manifest — not
    carried forward serving deleted history forever."""
    from sfa_spark.incremental import read_encoded_tier, refresh_encoded_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "enc_vanish")
    nb = 8
    tier = rollup_tier(events, KEY, "ts", "value", "1m").cache()
    r1 = refresh_encoded_tier(spark, tier, root, KEY, tier="1m", n_buckets=nb)
    assert len(r1["planned"]) >= 2

    # remove every key that hashes into one committed bucket
    gone = r1["planned"][0]
    kb = F.pmod(F.xxhash64(*KEY), F.lit(nb)).cast("int")
    shrunk = tier.filter(kb != int(gone)).cache()
    r2 = refresh_encoded_tier(spark, shrunk, root, KEY, tier="1m", n_buckets=nb)
    assert r2["vanished"] == [gone]
    assert gone not in set(r2["planned"])

    tio = TableIO(root)
    assert gone not in tio.done_partitions()
    m = tio.manifest()
    assert gone not in m["metrics"]["fp_by_bucket"]
    assert gone not in m["metrics"]["encode_by_bucket"]

    # the cold read no longer serves the vanished keys' history
    got_kb = {
        r["kb"]
        for r in read_encoded_tier(spark, root, KEY)
        .select(F.pmod(F.xxhash64(*KEY), F.lit(nb)).cast("int").alias("kb"))
        .distinct()
        .collect()
    }
    assert int(gone) not in got_kb
    # and a re-run against the same shrunk source is a clean no-op
    r3 = refresh_encoded_tier(spark, shrunk, root, KEY, tier="1m", n_buckets=nb)
    assert r3["processed"] == [] and r3["vanished"] == []
    tier.unpersist(); shrunk.unpersist()


def test_vanished_bucket_bookkeeping_not_resurrected_by_same_refresh(
    spark, events, tmp_path
):
    """Self-review r4: when ONE refresh both drops a vanished bucket AND
    recomputes a stale one, the data commit's {**prev, ...} metrics merge
    must not resurrect the dropped bucket's fp/encode entries."""
    from sfa_spark.incremental import refresh_encoded_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "enc_vanish2")
    nb = 8
    tier = rollup_tier(events, KEY, "ts", "value", "1m").cache()
    r1 = refresh_encoded_tier(spark, tier, root, KEY, tier="1m", n_buckets=nb)
    assert len(r1["planned"]) >= 2

    gone = r1["planned"][0]
    kb = F.pmod(F.xxhash64(*KEY), F.lit(nb)).cast("int")
    # drop one bucket's keys AND perturb every other bucket's values —
    # the refresh then has both a vanished bucket and stale to_process
    shrunk = tier.filter(kb != int(gone)).withColumn(
        "last", F.col("last") + 1.0
    ).cache()
    r2 = refresh_encoded_tier(spark, shrunk, root, KEY, tier="1m", n_buckets=nb)
    assert r2["vanished"] == [gone]
    assert len(r2["processed"]) > 0  # the data-commit path ran

    m = TableIO(root).manifest()
    assert gone not in m["partitions"]
    assert gone not in m["metrics"]["fp_by_bucket"]
    assert gone not in m["metrics"]["encode_by_bucket"]
    tier.unpersist(); shrunk.unpersist()


def test_read_launches_no_spark_job(spark, events, tmp_path, spark_jobs):
    """With the file schema recorded in the manifest, reading a table —
    here spread over two snapshot dirs — runs no schema-inference job."""
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "tier_1h")
    days = sorted(
        str(r["dt"]) for r in events.select(F.to_date("ts").alias("dt")).distinct().collect()
    )
    refresh_tier(spark, events.filter(F.to_date("ts").isin(days[:2])), root, KEY, "ts", "value")
    refresh_tier(spark, events, root, KEY, "ts", "value")
    tio = TableIO(root)
    dirs = {p["path"].split("/", 1)[0] for p in tio.manifest()["partitions"].values()}
    assert len(dirs) == 2
    for read in (lambda: read_tier(spark, root), lambda: tio.read(spark)):
        df, jobs = spark_jobs(read)
        assert jobs == 0
    assert df.count() == sum(p["rows"] for p in tio.manifest()["partitions"].values())


def test_cold_refresh_job_count(spark, events, tmp_path, spark_jobs):
    """A cold ``refresh_tier`` commit runs 4 Spark jobs: the day
    fingerprints and the snapshot write, each a shuffle-map job plus a
    result job under AQE. Rows per day come from the written files'
    footers, so the rollup is not run a second time to count them (that
    count took 3 more jobs)."""
    r, jobs = spark_jobs(
        lambda: refresh_tier(spark, events, str(tmp_path / "t"), KEY, "ts", "value")
    )
    assert r["processed"] == r["planned"] and r["planned"]
    assert jobs == 4


# -- file identity ------------------------------------------------------------
# Raw sources below are small parquet files written with pyarrow, one per
# (UTC) day unless a test says otherwise, with microsecond timestamps whose
# footers carry min/max: naive ones, which Spark reads as TimestampNTZ, or
# with ``tz`` UTC-adjusted instants, which it reads as TimestampType.

DAYS = ["2024-03-01", "2024-03-02", "2024-03-03"]


def _day_table(day: str, seed: int, n: int = 40, bump: float = 0.0, tz=None, hours=(0, 24)):
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    t0 = np.datetime64(day, "us")
    us = rng.integers(hours[0] * 3_600_000_000, hours[1] * 3_600_000_000, n)
    ts = np.sort(t0 + us.astype("timedelta64[us]"))
    value = np.round(rng.normal(size=n), 2)
    value[0] += bump
    return pa.table({
        "user_id": pa.array(rng.integers(0, 4, n)),
        "ts": pa.array(ts, pa.timestamp("us", tz=tz)),
        "value": pa.array(value),
    })


def _write_days(src_dir, days=DAYS, **kw) -> None:
    import pyarrow.parquet as pq

    src_dir.mkdir(exist_ok=True)
    for i, d in enumerate(days):
        pq.write_table(_day_table(d, i, **kw), str(src_dir / f"{d}.parquet"))


def _raw(spark, src_dir):
    return spark.read.parquet(str(src_dir)).select("user_id", "ts", "value")


def _assert_tier_equals_rollup(spark, root, src, tier):
    cols = ["user_id", "bucket_ts", "n", "sum", "min", "max", "first", "last"]
    got = read_tier(spark, root).select(*cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    want = (
        rollup_tier(src, KEY, "ts", "value", tier).select(*cols).toPandas()
        .sort_values(cols[:2]).reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    np.testing.assert_array_equal(got["bucket_ts"].values, want["bucket_ts"].values)
    for c in ("user_id", "n", "min", "max", "first", "last"):
        np.testing.assert_array_equal(got[c].values, want[c].values)
    np.testing.assert_allclose(got["sum"].values, want["sum"].values, rtol=1e-12)


def test_noop_refreshes_launch_no_spark_job(spark, tmp_path, spark_jobs):
    """On bare sources a refresh with nothing new clears every day (or the
    whole encoded input) from file identity: 0 Spark jobs, 0 days scanned."""
    from sfa_spark.incremental import refresh_encoded_tier

    _write_days(tmp_path / "src")
    r1m, r1h, renc = (str(tmp_path / n) for n in ("t1m", "t1h", "enc"))

    # the raw read infers its schema in a job of its own, before the count
    raw = _raw(spark, tmp_path / "src")

    def cascade():
        return (
            refresh_tier(spark, raw, r1m, KEY, "ts", "value", tier="1m"),
            refresh_tier(spark, read_tier(spark, r1m), r1h, KEY, "bucket_ts", "value", tier="1h", source="tier"),
            refresh_encoded_tier(spark, read_tier(spark, r1m), renc, KEY, tier="1m", n_buckets=4),
        )

    cold = cascade()
    assert [r["fingerprinted"] for r in cold[:2]] == [DAYS, DAYS]
    assert cold[2]["fingerprinted"] == cold[2]["processed"] == cold[2]["planned"]
    again, jobs = spark_jobs(cascade)
    assert jobs == 0
    for r, c in zip(again, cold):
        assert r["processed"] == r["fingerprinted"] == []
        assert r["planned"] == c["planned"] and r["snapshot"] == c["snapshot"]
    _assert_tier_equals_rollup(spark, r1h, raw, "1h")


def test_refresh_after_expire_launches_no_spark_job(spark, tmp_path, spark_jobs):
    """expire_tier prunes the expired days' fingerprints and identities
    with their partitions; the kept days' files are unchanged, so the next
    refresh of the cumulative source scans nothing and brings nothing back."""
    from sfa_spark.incremental import expire_tier
    from sfa_spark.tableio import TableIO

    _write_days(tmp_path / "src")
    root = str(tmp_path / "t1h")
    refresh_tier(spark, _raw(spark, tmp_path / "src"), root, KEY, "ts", "value")
    expire_tier(root, "2024-03-04T00:00:00", keep_seconds=2 * 86400)
    assert set(TableIO(root).manifest()["metrics"]["input_files_by_day"]) == set(DAYS[1:])
    raw = _raw(spark, tmp_path / "src")
    r, jobs = spark_jobs(lambda: refresh_tier(spark, raw, root, KEY, "ts", "value"))
    assert jobs == 0
    assert r["expired"] == DAYS[:1] and r["planned"] == DAYS[1:]
    assert r["processed"] == r["fingerprinted"] == []
    _assert_tier_equals_rollup(spark, root, raw.filter(F.to_date("ts") >= F.lit(DAYS[1]).cast("date")), "1h")


@pytest.mark.parametrize(
    "tz, session_tz", [(None, "UTC"), ("UTC", "UTC"), ("UTC", "America/New_York")]
)
def test_new_raw_file_scans_only_its_day(spark, tmp_path, spark_jobs, tz, session_tz):
    """A new file whose rows all lie in one day changes that day's
    identity only: only that day is fingerprinted (a scan pushed down to
    its ts range) and re-processed. Instants are placed in days of the
    session time zone, as ``to_date`` places them. The job count of such
    a late refresh is pinned: the day fingerprint and the snapshot write,
    4 jobs."""
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    _write_days(src, tz=tz)
    root = str(tmp_path / "t1h")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    try:
        first = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
        assert DAYS[1] in first["planned"]
        # 12:00-20:00 UTC lies in DAYS[1] in both zones
        pq.write_table(_day_table(DAYS[1], 99, n=5, tz=tz, hours=(12, 20)), str(src / "late.parquet"))
        raw = _raw(spark, src)
        r, jobs = spark_jobs(lambda: refresh_tier(spark, raw, root, KEY, "ts", "value"))
        assert r["fingerprinted"] == r["stale"] == r["processed"] == [DAYS[1]]
        assert r["skipped"] == [d for d in first["planned"] if d != DAYS[1]]
        assert jobs == 4
        _assert_tier_equals_rollup(spark, root, raw, "1h")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_replaced_raw_file_is_fingerprinted(spark, tmp_path):
    """A file replaced at the same path gets a new identity (mtime, size):
    its day is fingerprinted by content. Identical content is cleared by
    that fingerprint; a changed value with the same row count is stale."""
    import os

    import pyarrow.parquet as pq

    src = tmp_path / "src"
    _write_days(src)
    root = str(tmp_path / "t1h")
    refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    path = str(src / f"{DAYS[2]}.parquet")

    # same content, new mtime
    st = os.stat(path)
    pq.write_table(_day_table(DAYS[2], 2), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    r = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    assert r["fingerprinted"] == [DAYS[2]]
    assert r["stale"] == r["processed"] == []

    # a late value that changes no row count
    pq.write_table(_day_table(DAYS[2], 2, bump=1000.0), path)
    r = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == [DAYS[2]]
    _assert_tier_equals_rollup(spark, root, _raw(spark, src), "1h")


def test_upstream_day_rewritten_identically_is_cleared_by_content(spark, tmp_path):
    """A 1m day rewritten with identical rows has new files: the 1h refresh
    fingerprints that day only, finds its content unchanged, and re-processes
    nothing downstream."""
    from sfa_spark.tableio import TableIO

    src = tmp_path / "src"
    _write_days(src)
    r1m, r1h = str(tmp_path / "t1m"), str(tmp_path / "t1h")
    refresh_tier(spark, _raw(spark, src), r1m, KEY, "ts", "value", tier="1m")
    first = refresh_tier(spark, read_tier(spark, r1m), r1h, KEY, "bucket_ts", "value", tier="1h", source="tier")

    day = read_tier(spark, r1m).filter(F.col("dt") == F.lit(DAYS[0]).cast("date"))
    TableIO(r1m).write_snapshot(day, "dt", job="rewrite")
    r = refresh_tier(spark, read_tier(spark, r1m), r1h, KEY, "bucket_ts", "value", tier="1h", source="tier")
    assert r["fingerprinted"] == [DAYS[0]]
    assert r["stale"] == r["processed"] == []
    assert r["snapshot"] == first["snapshot"]
    _assert_tier_equals_rollup(spark, r1h, _raw(spark, src), "1h")


def test_late_value_cascades_through_file_identity(spark, tmp_path):
    """A late value that changes no row count: the 1m day is stale from its
    replaced raw file; the 1h refresh sees new 1m files for that day only,
    fingerprints it and finds it stale too."""
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    _write_days(src)
    r1m, r1h = str(tmp_path / "t1m"), str(tmp_path / "t1h")
    refresh_tier(spark, _raw(spark, src), r1m, KEY, "ts", "value", tier="1m")
    refresh_tier(spark, read_tier(spark, r1m), r1h, KEY, "bucket_ts", "value", tier="1h", source="tier")

    pq.write_table(_day_table(DAYS[1], 1, bump=7.5), str(src / f"{DAYS[1]}.parquet"))
    r = refresh_tier(spark, _raw(spark, src), r1m, KEY, "ts", "value", tier="1m")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == [DAYS[1]]
    r = refresh_tier(spark, read_tier(spark, r1m), r1h, KEY, "bucket_ts", "value", tier="1h", source="tier")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == [DAYS[1]]
    _assert_tier_equals_rollup(spark, r1m, _raw(spark, src), "1m")
    _assert_tier_equals_rollup(spark, r1h, _raw(spark, src), "1h")


def test_filtered_and_computed_sources_fall_back_to_the_scan(spark, tmp_path, caplog):
    """A filter or a computed column makes file identity the wrong
    fingerprint: every day is fingerprinted by content, and the reason is
    logged. A processed day loses its recorded identity, so the bare
    source is not cleared against a table built from a filtered one."""
    import logging

    from sfa_spark.tableio import TableIO

    src = tmp_path / "src"
    _write_days(src)
    root = str(tmp_path / "t1h")
    raw = _raw(spark, src)
    refresh_tier(spark, raw, root, KEY, "ts", "value")

    filtered = raw.filter(F.col("value") > 0)
    with caplog.at_level(logging.INFO, logger="sfa_spark"):
        r = refresh_tier(spark, filtered, root, KEY, "ts", "value")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == DAYS
    (msg,) = [m for m in caplog.messages if root in m]
    assert "not a bare file scan (Filter)" in msg
    assert TableIO(root).manifest()["metrics"]["input_files_by_day"] == {}
    _assert_tier_equals_rollup(spark, root, filtered, "1h")

    computed = raw.withColumn("value", F.col("value") + 1000.0)
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="sfa_spark"):
        r = refresh_tier(spark, computed, root, KEY, "ts", "value")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == DAYS
    assert any("Project" in m for m in caplog.messages if root in m)
    _assert_tier_equals_rollup(spark, root, computed, "1h")

    # back to the bare source: no identity recorded, so every day is
    # fingerprinted and found stale
    r = refresh_tier(spark, raw, root, KEY, "ts", "value")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == DAYS
    _assert_tier_equals_rollup(spark, root, raw, "1h")


@pytest.mark.parametrize("kind", ["int96", "null_ts"])
def test_footers_without_usable_ts_stats_fall_back(spark, tmp_path, caplog, kind):
    """INT96 timestamps carry no min/max and a null ts has no day: the
    refresh fingerprints every day by content, as without file identity."""
    import logging

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    for i, d in enumerate(DAYS):
        t = _day_table(d, i)
        if kind == "null_ts" and i == 1:
            ts = t["ts"].to_pylist()
            ts[3] = None
            t = t.set_column(1, "ts", pa.array(ts, pa.timestamp("us")))
        pq.write_table(t, str(src / f"{d}.parquet"), use_deprecated_int96_timestamps=kind == "int96")
    root = str(tmp_path / "t1h")
    src_df = _raw(spark, src)
    with caplog.at_level(logging.INFO, logger="sfa_spark"):
        r1 = refresh_tier(spark, src_df, root, KEY, "ts", "value")
        r2 = refresh_tier(spark, src_df, root, KEY, "ts", "value")
    reasons = [m for m in caplog.messages if root in m]
    assert len(reasons) == 2
    assert ("INT96" if kind == "int96" else "null ts") in reasons[0]
    assert set(DAYS) <= set(r1["processed"])
    assert set(DAYS) <= set(r2["fingerprinted"]) and r2["processed"] == []
    _assert_tier_equals_rollup(spark, root, src_df.filter(F.col("ts").isNotNull()), "1h")


def test_legacy_manifest_without_identity_is_fingerprinted(spark, tmp_path):
    """A table committed before file identities were recorded has
    ``input_fp_by_day`` only: every day is fingerprinted by content (never
    silently skipped), the changed day is stale, and the commit records
    the identities, so the next refresh scans nothing."""
    import json

    import pyarrow.parquet as pq

    from sfa_spark.tableio import TableIO

    src = tmp_path / "src"
    _write_days(src)
    root = str(tmp_path / "t1h")
    refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    tio = TableIO(root)
    path = f"{root}/_manifests/{tio.current_snapshot()}.json"
    m = json.load(open(path))
    del m["metrics"]["input_files_by_day"]
    json.dump(m, open(path, "w"))

    pq.write_table(_day_table(DAYS[0], 0, bump=3.0), str(src / f"{DAYS[0]}.parquet"))
    r = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    assert r["fingerprinted"] == DAYS
    assert r["stale"] == r["processed"] == [DAYS[0]]
    assert set(tio.manifest()["metrics"]["input_files_by_day"]) == set(DAYS)
    r = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    assert r["fingerprinted"] == r["processed"] == []
    _assert_tier_equals_rollup(spark, root, _raw(spark, src), "1h")


def test_unrecomputed_stale_day_keeps_its_identity(spark, tmp_path):
    """Under ``recompute_stale=False`` a stale day is surfaced, not
    processed, and keeps its old identity even when the same refresh
    commits a new day, so the next refresh still finds it stale."""
    import pyarrow.parquet as pq

    from sfa_spark.tableio import TableIO

    src = tmp_path / "src"
    _write_days(src, DAYS[:2])
    root = str(tmp_path / "t1h")
    refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    old_ids = TableIO(root).manifest()["metrics"]["input_files_by_day"]

    pq.write_table(_day_table(DAYS[0], 0, bump=2.0), str(src / f"{DAYS[0]}.parquet"))
    pq.write_table(_day_table(DAYS[2], 2), str(src / f"{DAYS[2]}.parquet"))
    r = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value", recompute_stale=False)
    assert r["stale"] == [DAYS[0]] and r["processed"] == [DAYS[2]]
    ids = TableIO(root).manifest()["metrics"]["input_files_by_day"]
    assert ids[DAYS[0]] == old_ids[DAYS[0]] and set(ids) == set(DAYS)

    r = refresh_tier(spark, _raw(spark, src), root, KEY, "ts", "value")
    assert r["fingerprinted"] == r["stale"] == r["processed"] == [DAYS[0]]
    _assert_tier_equals_rollup(spark, root, _raw(spark, src), "1h")


def test_encoded_refresh_metrics_from_staged_files(spark, tmp_path):
    """encode_by_bucket is summed from the staged block files: it equals a
    Spark aggregate of the committed blocks, bucket for bucket."""
    from sfa_spark.incremental import refresh_encoded_tier
    from sfa_spark.tableio import TableIO

    _write_days(tmp_path / "src")
    r1m, renc = str(tmp_path / "t1m"), str(tmp_path / "enc")
    refresh_tier(spark, _raw(spark, tmp_path / "src"), r1m, KEY, "ts", "value", tier="1m")
    refresh_encoded_tier(spark, read_tier(spark, r1m), renc, KEY, tier="1m", n_buckets=4)
    tio = TableIO(renc)
    want = {
        str(r["kb"]): {"points": r["p"], "raw_bytes": r["r"], "enc_bytes": r["e"]}
        for r in tio.read(spark).groupBy("kb").agg(
            F.sum("n").alias("p"), F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e")
        ).collect()
    }
    assert tio.manifest()["metrics"]["encode_by_bucket"] == want


def test_encoded_digest_not_recorded_past_unrecomputed_stale_buckets(spark, tmp_path, spark_jobs):
    """The encoded table's input digest stands for the table only once
    every planned bucket was committed from that input: a refresh that
    leaves stale buckets (``recompute_stale=False``) while it commits a
    new one records none, so the next refresh still finds them stale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sfa_spark.incremental import refresh_encoded_tier
    from sfa_spark.tableio import TableIO

    src = tmp_path / "src"
    _write_days(src)
    r1m, renc = str(tmp_path / "t1m"), str(tmp_path / "enc")
    refresh_tier(spark, _raw(spark, src), r1m, KEY, "ts", "value", tier="1m")
    first = refresh_encoded_tier(spark, read_tier(spark, r1m), renc, KEY, tier="1m", n_buckets=64)

    # a late value for one existing key, and a new key in a new bucket
    pq.write_table(_day_table(DAYS[0], 0, bump=5.0), str(src / f"{DAYS[0]}.parquet"))
    new_key = _day_table(DAYS[1], 5, n=3).set_column(0, "user_id", pa.array([99] * 3))
    pq.write_table(new_key, str(src / "new_key.parquet"))
    refresh_tier(spark, _raw(spark, src), r1m, KEY, "ts", "value", tier="1m")
    r = refresh_encoded_tier(
        spark, read_tier(spark, r1m), renc, KEY, tier="1m", n_buckets=64, recompute_stale=False
    )
    new = sorted(set(r["planned"]) - set(first["planned"]), key=int)
    assert len(new) == 1 and r["processed"] == new and len(r["stale"]) == 1
    assert TableIO(renc).manifest()["metrics"]["input_files_digest"] is None

    r2 = refresh_encoded_tier(spark, read_tier(spark, r1m), renc, KEY, tier="1m", n_buckets=64)
    assert r2["stale"] == r2["processed"] == r["stale"]
    _, jobs = spark_jobs(
        lambda: refresh_encoded_tier(spark, read_tier(spark, r1m), renc, KEY, tier="1m", n_buckets=64)
    )
    assert jobs == 0
