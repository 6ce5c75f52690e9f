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
