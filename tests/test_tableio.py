"""TableIO snapshot/lineage/resume semantics incl. kill-and-resume shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sfa_spark.tableio import TableIO


@pytest.fixture()
def tio(tmp_path):
    return TableIO(str(tmp_path / "tiers"))


def test_snapshot_write_read_roundtrip(spark, tio, events):
    df = events.withColumn("dt", F.to_date("ts")).limit(500)
    snap = tio.write_snapshot(df, "dt", job="t1")
    assert snap == "snap-000001"
    back = tio.read(spark)
    assert back.count() == 500
    assert "dt" in back.columns


def test_incremental_refresh_carries_forward(spark, tio, events):
    df = events.withColumn("dt", F.to_date("ts"))
    days = sorted(r["dt"] for r in df.select("dt").distinct().collect())
    first, rest = days[:2], days[2:4]

    tio.write_snapshot(df.filter(F.col("dt").isin(first)), "dt", job="initial")
    n1 = tio.read(spark).count()

    # resume diff: only the missing days are planned
    planned = [str(d) for d in first + rest]
    missing = tio.missing_partitions(planned)
    assert missing == [str(d) for d in rest]

    tio.write_snapshot(df.filter(F.col("dt").isin(rest)), "dt", job="incr")
    m = tio.manifest()
    assert set(m["partitions"]) == {str(d) for d in first + rest}
    n2 = tio.read(spark).count()
    assert n2 > n1
    want = df.filter(F.col("dt").isin(first + rest)).count()
    assert n2 == want


def test_lineage_chain(spark, tio, events):
    df = events.withColumn("dt", F.to_date("ts")).limit(100)
    tio.write_snapshot(df, "dt", job="a", metrics={"rows": 100})
    tio.write_snapshot(df, "dt", job="b")
    chain = tio.lineage()
    assert [m["job"] for m in chain] == ["b", "a"]
    assert chain[1]["metrics"] == {"rows": 100}
    assert chain[0]["parent"] == chain[1]["snapshot_id"]


def test_resume_after_partial_write(spark, tio, events):
    """Kill-and-resume: a snapshot is only visible after the _current
    pointer flips, so a crashed write leaves the previous snapshot live."""
    df = events.withColumn("dt", F.to_date("ts")).limit(200)
    snap1 = tio.write_snapshot(df, "dt", job="ok")
    # simulate a crash: data written, manifest written, pointer NOT flipped
    import os

    snap2_dir = f"{tio.root}/snap-000002"
    os.makedirs(snap2_dir, exist_ok=True)  # partial garbage
    assert tio.current_snapshot() == snap1
    assert tio.read(spark).count() == 200  # old snapshot intact


def test_drop_partitions_metadata_only_and_time_travel(spark, events, tmp_path):
    """Retention = a metadata-only commit: dropped day partitions leave
    the manifest (and reads) but their files stay on disk, readable by
    snapshot id (time travel); expire is idempotent and the boundary is
    chronological on ISO day keys."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from sfa_spark.incremental import expire_tier, refresh_tier, read_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "tier_1d")
    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    tio = TableIO(root)
    days = sorted(tio.done_partitions())
    assert len(days) >= 3
    snap_full = tio.current_snapshot()
    rows_full = read_tier(spark, root).count()

    # keep only the last 2 days
    now = dt.datetime.fromisoformat(days[-1]) + dt.timedelta(days=1)
    r = expire_tier(root, now, keep_seconds=2 * 86400)
    assert r["dropped"] == days[:-2]
    assert sorted(tio.done_partitions()) == days[-2:]

    got_days = {
        str(d["dt"])
        for d in read_tier(spark, root).select("dt").distinct().collect()
    }
    assert got_days == set(days[-2:])
    assert read_tier(spark, root).count() < rows_full

    # files still on disk; full snapshot still readable (time travel)
    old = tio.manifest(snap_full)
    for meta in old["partitions"].values():
        for p in meta.get("paths") or [meta["path"]]:
            assert os.path.isdir(os.path.join(root, p))
    assert tio.read(spark, snapshot=snap_full).count() == rows_full

    # idempotent: second expire is a no-op commit-wise
    snap_after = tio.current_snapshot()
    r2 = expire_tier(root, now, keep_seconds=2 * 86400)
    assert r2["dropped"] == [] and tio.current_snapshot() == snap_after

    # a later refresh still carries only retained + new partitions
    lin = tio.lineage()
    assert lin[0]["metrics"]["dropped_partitions"] == days[:-2]


def test_expire_survives_refresh_and_other_writers(spark, events, tmp_path):
    """Review findings r3: (a) refresh_tier must not resurrect expired
    days from the cumulative source; (b) drop_partitions must carry the
    other writers' manifest metrics (pruning only the dropped days'
    per-day entries); (c) the streaming sink's batch-id fence must
    survive an interleaved retention commit."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sfa_spark.incremental import expire_tier, read_tier, refresh_tier
    from sfa_spark.rollup import rollup_tier
    from sfa_spark.streaming import tier_batch_sink
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "tier_1d")
    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    tio = TableIO(root)
    days = sorted(tio.done_partitions())

    # a streaming commit on the same table records its fence
    t1d = rollup_tier(events, ["user_id"], "ts", "value", "1d").withColumn(
        "dt", F.to_date("bucket_ts")
    )
    tier_batch_sink(tio, "1d")(t1d.limit(0), 5)  # empty batch: no commit
    tier_batch_sink(tio, "1d")(t1d.filter(F.lit(False)), 5)
    # commit a real one so the fence is recorded
    tier_batch_sink(tio, "1d")(t1d.filter(F.col("dt") == days[-1]), 5)
    assert tio.manifest()["metrics"]["stream_batch_id"] == 5

    now = dt.datetime.fromisoformat(days[-1]) + dt.timedelta(days=1)
    r = expire_tier(root, now, keep_seconds=2 * 86400)
    assert r["dropped"] == days[:-2]
    m = tio.manifest()
    # (b) other writers' metrics carried; dropped days' fingerprints pruned
    assert m["metrics"]["stream_batch_id"] == 5
    fps = m["metrics"]["input_fp_by_day"]
    assert set(fps) == set(days[-2:])
    assert m["metrics"]["retention_cutoff_day"] == days[-2]

    # (c) a replayed stream batch after the retention commit stays fenced
    snap = tio.current_snapshot()
    tier_batch_sink(tio, "1d")(t1d.withColumn("sum", F.col("sum") * 99), 5)
    assert tio.current_snapshot() == snap

    # (a) a full-source refresh does NOT rebuild the expired days
    r2 = refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    assert r2["expired"] == days[:-2]
    assert r2["processed"] == []
    assert sorted(tio.done_partitions(), key=str)[:1][0] >= days[-2]
    got_days = {
        str(d["dt"]) for d in read_tier(spark, root).select("dt").distinct().collect()
    }
    assert got_days <= set(days[-2:])


def test_concurrent_writers_both_commit(spark, tio, events):
    """ADVICE r3 (medium): two temporally overlapping writers must not
    both claim the same snapshot id — the loser's partitions and
    exactly-once fence would be silently orphaned. The commit section is
    an flock CAS: parent is re-read under the lock, so the second
    committer rebases onto the first and BOTH commits land in the chain."""
    import threading

    df = events.withColumn("dt", F.to_date("ts"))
    days = sorted(str(r["dt"]) for r in df.select("dt").distinct().collect())
    a_days, b_days = days[: len(days) // 2], days[len(days) // 2 :]
    errs = []

    def writer(name, dd, metric):
        try:
            tio.write_snapshot(
                df.filter(F.col("dt").isin(dd)), "dt", job=name, metrics=metric
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ta = threading.Thread(target=writer, args=("wa", a_days, {"fence_a": 1}))
    tb = threading.Thread(target=writer, args=("wb", b_days, {"fence_b": 2}))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs
    chain = tio.lineage()
    assert len(chain) == 2, [m["snapshot_id"] for m in chain]
    assert {m["job"] for m in chain} == {"wa", "wb"}
    assert chain[0]["parent"] == chain[1]["snapshot_id"]
    m = tio.manifest()
    # neither writer's partitions nor bookkeeping was orphaned
    assert set(m["partitions"]) == set(days)
    assert m["metrics"]["fence_a"] == 1 and m["metrics"]["fence_b"] == 2
    assert tio.read(spark).count() == df.count()


def test_expire_persists_cutoff_on_empty_drop(spark, events, tmp_path):
    """ADVICE r3 (low): an expire whose window drops nothing committed
    must STILL persist the advanced cutoff (metadata-only commit) —
    otherwise days that exist only in the cumulative source (never
    committed) are later resurrected by refresh_tier."""
    import datetime as dt

    from sfa_spark.incremental import expire_tier, refresh_tier
    from sfa_spark.tableio import TableIO

    df = events.withColumn("dt", F.to_date("ts"))
    days = sorted(str(r["dt"]) for r in df.select("dt").distinct().collect())
    assert len(days) >= 4
    root = str(tmp_path / "tier_1d")
    # commit only the LAST two days — the earlier days exist solely in
    # the cumulative source
    refresh_tier(
        spark,
        events.filter(F.to_date("ts").isin(days[-2:])),
        root,
        ["user_id"],
        "ts",
        "value",
        tier="1d",
    )
    tio = TableIO(root)
    assert sorted(tio.done_partitions()) == days[-2:]

    # cutoff lands exactly at the first committed day: nothing committed
    # is older, so the drop set is empty — but the cutoff must persist
    now = dt.datetime.fromisoformat(days[-2]) + dt.timedelta(days=2)
    r = expire_tier(root, now, keep_seconds=2 * 86400)
    assert r["dropped"] == []
    assert tio.manifest()["metrics"]["retention_cutoff_day"] == days[-2]

    # a full-source refresh must NOT resurrect the never-committed days
    r2 = refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    assert r2["expired"] == days[:-2]
    assert all(d not in tio.done_partitions() for d in days[:-2])


def test_expire_before_first_refresh(spark, events, tmp_path):
    """Expire on an empty table records the cutoff so the FIRST refresh
    already respects it."""
    import datetime as dt

    from sfa_spark.incremental import expire_tier, refresh_tier
    from sfa_spark.tableio import TableIO

    df = events.withColumn("dt", F.to_date("ts"))
    days = sorted(str(r["dt"]) for r in df.select("dt").distinct().collect())
    root = str(tmp_path / "tier_1d")
    now = dt.datetime.fromisoformat(days[-1]) + dt.timedelta(days=1)
    r = expire_tier(root, now, keep_seconds=2 * 86400)
    assert r["dropped"] == []
    tio = TableIO(root)
    assert tio.manifest()["metrics"]["retention_cutoff_day"] == days[-2]

    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    assert sorted(tio.done_partitions()) == days[-2:]


def test_gc_stale_staging(spark, tio, events):
    """A writer killed between its parquet write and the commit lock
    leaves a .stage-* dir; gc_stale_staging removes aged ones and never
    touches committed snapshots or fresh in-flight staging."""
    import os
    import time

    df = events.withColumn("dt", F.to_date("ts")).limit(100)
    tio.write_snapshot(df, "dt", job="ok")
    n_before = tio.read(spark).count()

    old = os.path.join(tio.root, ".stage-deadbeef")
    fresh = os.path.join(tio.root, ".stage-cafe")
    os.makedirs(old); os.makedirs(fresh)
    past = time.time() - 48 * 3600
    os.utime(old, (past, past))

    removed = tio.gc_stale_staging(max_age_seconds=24 * 3600)
    assert removed == [old]
    assert not os.path.exists(old) and os.path.exists(fresh)
    assert tio.read(spark).count() == n_before
    assert tio.current_snapshot() == "snap-000001"


def test_orphan_snapshot_dir_does_not_wedge_commits(spark, tio, events):
    """Self-review r4: a writer killed between its snap-dir rename and
    the pointer flip leaves an orphan snap-N dir; the next commit reaps
    it (ids past _current are uncommitted by construction) instead of
    failing the rename forever."""
    import os

    df = events.withColumn("dt", F.to_date("ts")).limit(120)
    tio.write_snapshot(df, "dt", job="ok")
    # simulate the crash: renamed dir (with stale content), pointer not flipped
    orphan = os.path.join(tio.root, "snap-000002")
    os.makedirs(os.path.join(orphan, "dt=1970-01-01"))
    with open(os.path.join(orphan, "dt=1970-01-01", "junk.parquet"), "w") as f:
        f.write("garbage")
    assert tio.current_snapshot() == "snap-000001"

    snap = tio.write_snapshot(df, "dt", job="recovered")
    assert snap == "snap-000002"
    assert tio.current_snapshot() == "snap-000002"
    assert tio.read(spark).count() == 120
    # the orphan's garbage is gone
    assert not os.path.exists(os.path.join(orphan, "dt=1970-01-01", "junk.parquet"))


def test_orphan_reaped_by_metadata_only_commits(spark, tio, events):
    """ADVICE r4: if the commit that claims an orphaned snapshot id is a
    metadata-only commit (drop_partitions / commit_metrics) rather than a
    data write, the orphan's data dir must STILL be reaped — otherwise it
    (plus its stale manifest) leaks forever, since gc_stale_staging only
    sweeps .stage-* dirs."""
    import json
    import os

    df = events.withColumn("dt", F.to_date("ts")).limit(120)
    tio.write_snapshot(df, "dt", job="ok")
    days = sorted(tio.done_partitions())

    def plant_orphan(snap_name):
        orphan = os.path.join(tio.root, snap_name)
        os.makedirs(os.path.join(orphan, "dt=1970-01-01"))
        with open(os.path.join(orphan, "dt=1970-01-01", "junk.parquet"), "w") as f:
            f.write("garbage")
        # crashed writer also wrote its manifest before dying pre-flip
        with open(os.path.join(tio.root, "_manifests", f"{snap_name}.json"), "w") as f:
            json.dump({"snapshot_id": snap_name, "partitions": {"bogus": {}}}, f)
        return orphan

    orphan = plant_orphan("snap-000002")
    snap = tio.drop_partitions([days[0]], job="retention")
    assert snap == "snap-000002"
    assert not os.path.exists(orphan)  # data dir reaped
    assert "bogus" not in tio.manifest()["partitions"]  # manifest overwritten
    assert days[0] not in tio.done_partitions()

    orphan = plant_orphan("snap-000003")
    snap = tio.commit_metrics({"note": 1}, job="metadata")
    assert snap == "snap-000003"
    assert not os.path.exists(orphan)
    assert tio.manifest()["metrics"]["note"] == 1
    # remaining day partitions still read fine
    assert tio.read(spark).count() > 0


def test_gc_stale_staging_spares_long_running_write(spark, tio, events):
    """ADVICE r4: staging age must be judged by the newest mtime in the
    stage TREE — Spark creates partition subdirs early, so a legitimate
    write running longer than max_age has an old root mtime but fresh
    files inside. Such a stage must NOT be reaped."""
    import os
    import time

    slow = os.path.join(tio.root, ".stage-slowwrite")
    sub = os.path.join(slow, "dt=2024-01-01")
    os.makedirs(sub)
    past = time.time() - 48 * 3600
    # root AND subdir look old...
    os.utime(slow, (past, past))
    os.utime(sub, (past, past))
    # ...but a part file was just written (the write is still running)
    with open(os.path.join(sub, "part-0.parquet"), "w") as f:
        f.write("in flight")

    assert tio.gc_stale_staging(max_age_seconds=24 * 3600) == []
    assert os.path.exists(slow)

    # once every file is old too, it's genuinely stale — reaped
    os.utime(os.path.join(sub, "part-0.parquet"), (past, past))
    os.utime(sub, (past, past))
    os.utime(slow, (past, past))
    assert tio.gc_stale_staging(max_age_seconds=24 * 3600) == [slow]
    assert not os.path.exists(slow)


def test_keep_seconds_recorded_only_for_winning_cutoff(spark, events, tmp_path):
    """ADVICE r4: under expires with different windows, the persisted
    keep_seconds must be the one that PRODUCED the (monotone-max) cutoff,
    not last-writer-wins."""
    from sfa_spark.incremental import expire_tier, refresh_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "tier_1d")
    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    tio = TableIO(root)
    days = sorted(tio.done_partitions())
    base = days[-1] + "T00:00:00"

    expire_tier(root, base, keep_seconds=2 * 86400)
    m1 = tio.manifest()["metrics"]
    assert m1["keep_seconds"] == 2 * 86400
    win_cut = m1["retention_cutoff_day"]

    # a LONGER window (earlier cutoff) loses the max: cutoff unchanged,
    # and keep_seconds must NOT flip to the loser's value
    expire_tier(root, base, keep_seconds=30 * 86400)
    m2 = tio.manifest()["metrics"]
    assert m2["retention_cutoff_day"] == win_cut
    assert m2["keep_seconds"] == 2 * 86400

    # a SHORTER window wins: both advance together
    expire_tier(root, base, keep_seconds=1 * 86400)
    m3 = tio.manifest()["metrics"]
    assert m3["retention_cutoff_day"] > win_cut
    assert m3["keep_seconds"] == 1 * 86400


def test_retention_cutoff_cannot_regress_under_stale_writer(spark, events, tmp_path):
    """Self-review r4: the cutoff's monotone max is evaluated under the
    commit lock (metrics_fn), so a writer committing with a STALE view
    (the concurrent-expire race) cannot move the persisted cutoff
    backwards and resurrect days another writer dropped."""
    import datetime as dt

    from sfa_spark.incremental import expire_tier, refresh_tier
    from sfa_spark.tableio import TableIO

    root = str(tmp_path / "tier_1d")
    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    tio = TableIO(root)
    days = sorted(tio.done_partitions())
    now = dt.datetime.fromisoformat(days[-1]) + dt.timedelta(days=1)

    expire_tier(root, now, keep_seconds=2 * 86400)
    newest_cut = tio.manifest()["metrics"]["retention_cutoff_day"]
    assert newest_cut == days[-2]

    # a stale writer commits an OLDER cutoff through the same merge rule
    stale_cut = days[0]
    tio.commit_metrics(
        job="stale_expire",
        metrics_fn=lambda cur: {
            "retention_cutoff_day": max(
                stale_cut, cur.get("retention_cutoff_day", "")
            )
        },
    )
    assert tio.manifest()["metrics"]["retention_cutoff_day"] == newest_cut

    # and a wide-window expire through the public API is also a no-regress
    expire_tier(root, now, keep_seconds=30 * 86400)
    assert tio.manifest()["metrics"]["retention_cutoff_day"] == newest_cut


def _inferred_read(spark, tio, snapshot=None):
    """The read as it was before schemas were recorded: one parquet read
    with schema inference per snapshot dir, unioned by name."""
    import os
    from functools import reduce

    m = tio.manifest(snapshot)
    by_snap: dict = {}
    for p in m["partitions"].values():
        for path in p.get("paths") or [p["path"]]:
            by_snap.setdefault(path.split("/", 1)[0], []).append(os.path.join(tio.root, path))
    dfs = [
        spark.read.option("basePath", os.path.join(tio.root, s)).parquet(*ps)
        for s, ps in sorted(by_snap.items())
    ]
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _snapshot_dirs(m):
    return {
        path.split("/", 1)[0]
        for p in m["partitions"].values()
        for path in p.get("paths") or [p["path"]]
    }


def _committed_counts(spark, tio, pk):
    return {
        str(r[pk]): r["count"] for r in tio.read(spark).groupBy(pk).count().collect()
    }


def _assert_rows_and_schema_exact(spark, tio, pk):
    """Manifest ``rows`` equal a Spark count of the committed table, and
    the read with the recorded schema has exactly the inferred schema
    (names, types, nullability, order, partition column type)."""
    m = tio.manifest()
    assert m["schema"]
    assert {k: p["rows"] for k, p in m["partitions"].items()} == _committed_counts(spark, tio, pk)
    assert tio.read(spark).schema == _inferred_read(spark, tio).schema


def test_schema_and_rows_survive_every_commit_path(spark, tio, events):
    """Top-level ``schema`` and per-partition ``rows`` are carried by a
    carry-forward write, ``drop_partitions`` and ``commit_metrics``; a
    ``merge_partitions`` write sums ``rows`` over the merged paths."""
    df = events.withColumn("dt", F.to_date("ts"))
    days = sorted(str(r["dt"]) for r in df.select("dt").distinct().collect())
    assert len(days) >= 4
    want = {
        str(r["dt"]): r["count"] for r in df.groupBy("dt").count().collect()
    }

    tio.write_snapshot(df.filter(F.col("dt").isin(days[:2])), "dt", job="a")
    first = tio.manifest()
    assert {k: p["rows"] for k, p in first["partitions"].items()} == {
        d: want[d] for d in days[:2]
    }
    schema = first["schema"]
    assert "dt" not in [f["name"] for f in schema["fields"]]

    steps = [
        lambda: tio.write_snapshot(df.filter(F.col("dt").isin(days[2:4])), "dt", job="carry"),
        lambda: tio.drop_partitions([days[0]]),
        lambda: tio.commit_metrics({"note": 1}),
    ]
    for step in steps:
        step()
        m = tio.manifest()
        assert m["schema"] == schema, m["job"]
        assert all(p["rows"] == want[k] for k, p in m["partitions"].items()), m["job"]
        assert tio.read(spark).count() == sum(want[k] for k in m["partitions"])
    assert set(tio.manifest()["partitions"]) == set(days[1:4])

    # append the same days again: each merged partition counts both parts
    tio.write_snapshot(
        df.filter(F.col("dt").isin(days[1:3])), "dt", job="merge", merge_partitions=True
    )
    m = tio.manifest()
    assert m["schema"] == schema
    assert {k: p["rows"] for k, p in m["partitions"].items()} == {
        days[1]: 2 * want[days[1]],
        days[2]: 2 * want[days[2]],
        days[3]: want[days[3]],
    }
    assert len(m["partitions"][days[1]]["paths"]) == 2
    _assert_rows_and_schema_exact(spark, tio, "dt")


def test_rows_and_schema_equal_spark_counts_and_inference(spark, events, tmp_path):
    """The two manifest shortcuts give what the removed Spark work gave,
    on a ``dt`` tier table, a ``kb`` encoded table and a ``prefix`` word
    index, each spread over two snapshot dirs: ``rows`` and
    ``rollup_rows_by_day`` equal ``groupBy(pk).count()`` of the committed
    table, and the read schema equals the inferred one."""
    import numpy as np

    from sfa_spark.incremental import refresh_encoded_tier, refresh_tier
    from sfa_spark.operators.word_index import append_word_index, build_word_index
    from sfa_spark.rollup import rollup_tier
    from sfa_spark.transform.sfa import fit_windowing

    # dt: two refreshes of a 1h tier, the second adding the later days
    root = str(tmp_path / "tier_1h")
    days = sorted(
        str(r["dt"]) for r in events.select(F.to_date("ts").alias("dt")).distinct().collect()
    )
    refresh_tier(spark, events.filter(F.to_date("ts").isin(days[:2])), root, ["user_id"], "ts", "value")
    refresh_tier(spark, events, root, ["user_id"], "ts", "value")
    tier = TableIO(root)
    assert len(_snapshot_dirs(tier.manifest())) == 2
    _assert_rows_and_schema_exact(spark, tier, "dt")
    rows_by_day: dict = {}
    for m in reversed(tier.lineage()):
        rows_by_day.update(m["metrics"]["rollup_rows_by_day"])
    assert rows_by_day == _committed_counts(spark, tier, "dt")

    # kb: encoded table, then late data for one key re-encodes its bucket
    root = str(tmp_path / "enc_1m")
    t1m = rollup_tier(events, ["user_id"], "ts", "value", "1m").cache()
    refresh_encoded_tier(spark, t1m, root, ["user_id"], tier="1m", n_buckets=8)
    uid = int(t1m.select("user_id").first()["user_id"])
    late = t1m.withColumn(
        "last", F.when(F.col("user_id") == uid, F.col("last") + 1.0).otherwise(F.col("last"))
    )
    refresh_encoded_tier(spark, late, root, ["user_id"], tier="1m", n_buckets=8)
    t1m.unpersist()
    enc = TableIO(root)
    assert len(_snapshot_dirs(enc.manifest())) == 2
    _assert_rows_and_schema_exact(spark, enc, "kb")

    # prefix: word index built, then appended to (merged partitions)
    rng = np.random.default_rng(5)
    series = [rng.standard_normal(120).cumsum() for _ in range(6)]

    def frame(ids):
        rows = [(i, t, float(v)) for i in ids for t, v in enumerate(series[i])]
        return spark.createDataFrame(rows, "series_id long, t int, value double")

    root = str(tmp_path / "widx")
    build_word_index(frame(range(3)), fit_windowing(series, 16, 4, 4, norm_mean=True), root)
    append_word_index(frame(range(3, 6)), root)
    widx = TableIO(root)
    assert len(_snapshot_dirs(widx.manifest())) == 2
    assert any("paths" in p for p in widx.manifest()["partitions"].values())
    _assert_rows_and_schema_exact(spark, widx, "prefix")


def test_legacy_manifest_without_schema_reads_and_refreshes(spark, events, tmp_path):
    """A table committed before ``schema`` and ``rows`` were recorded is
    read with inference, and a refresh on top of it records both for
    what it writes."""
    import json
    import os

    from sfa_spark.incremental import read_tier, refresh_tier
    from sfa_spark.rollup import rollup_tier

    root = str(tmp_path / "legacy")
    days = sorted(
        str(r["dt"]) for r in events.select(F.to_date("ts").alias("dt")).distinct().collect()
    )
    refresh_tier(spark, events.filter(F.to_date("ts").isin(days[:2])), root, ["user_id"], "ts", "value")
    tio = TableIO(root)
    path = os.path.join(root, "_manifests", f"{tio.current_snapshot()}.json")
    with open(path) as f:
        legacy = json.load(f)
    del legacy["schema"]
    for p in legacy["partitions"].values():
        del p["rows"]
    with open(path, "w") as f:
        json.dump(legacy, f)

    assert tio.read(spark).schema == _inferred_read(spark, tio).schema
    assert tio.read(spark).count() == _inferred_read(spark, tio).count()

    r = refresh_tier(spark, events, root, ["user_id"], "ts", "value")
    assert r["processed"] == days[2:]
    m = tio.manifest()
    assert m["schema"]
    assert [k for k, p in sorted(m["partitions"].items()) if "rows" not in p] == days[:2]
    assert tio.read(spark).schema == _inferred_read(spark, tio).schema
    assert read_tier(spark, root).count() == rollup_tier(events, ["user_id"], "ts", "value", "1h").count()


def test_differing_schemas_fall_back_to_inference(spark, tio, events):
    """Writes of differing file schemas under one manifest record no
    schema, so the read widens across snapshot dirs by inference."""
    df = events.withColumn("dt", F.to_date("ts"))
    days = sorted(str(r["dt"]) for r in df.select("dt").distinct().collect())
    tio.write_snapshot(
        df.filter(F.col("dt") == days[0]).withColumn("v", F.lit(1).cast("int")), "dt"
    )
    tio.write_snapshot(
        df.filter(F.col("dt") == days[1]).withColumn("v", F.lit(2).cast("long")), "dt"
    )
    m = tio.manifest()
    assert m["schema"] is None
    back = tio.read(spark)
    assert dict(back.dtypes)["v"] == "bigint"
    assert sorted(r["v"] for r in back.select("v").distinct().collect()) == [1, 2]
    # replacing every partition leaves one schema again
    tio.write_snapshot(
        df.filter(F.col("dt").isin(days[:2])).withColumn("v", F.lit(3).cast("long")), "dt"
    )
    assert tio.manifest()["schema"]
    assert tio.read(spark).schema == _inferred_read(spark, tio).schema
