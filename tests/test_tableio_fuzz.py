"""Randomized multi-writer stress test for the TableIO commit protocol
(VERDICT r4 #7): N threads × M seeded-random operations — refreshes,
expires with differing windows, metadata commits, partition drops,
simulated writer crashes (orphan snap dirs + stale manifests, stale
staging), GC, and concurrent readers — with the protocol invariants
asserted throughout and at quiesce:

  I1 readers always see a consistent snapshot (every referenced
     partition path exists on disk; lineage chain intact);
  I2 retention_cutoff_day is monotone non-decreasing over time;
  I3 keep_seconds always corresponds to the cutoff it sits beside
     (one fixed `now` ⇒ cutoff == (now − keep).date());
  I4 expired days never resurrect — a post-quiesce full refresh still
     excludes every day below the final cutoff;
  I5 orphan dirs never wedge commits, and are reaped by later commits.

The hand-picked interleavings from rounds 3-4 (concurrent same-batch
replays, sink+refresh, stale-writer cutoff) remain in test_tableio /
test_streaming; this fuzz sweeps ≥1000 random interleavings on top."""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time

import pytest
from pyspark.sql import functions as F

from sfa_spark.incremental import expire_tier, refresh_tier
from sfa_spark.tableio import TableIO

N_THREADS = 6
OPS_PER_THREAD = 170  # 1020 total ≥ the 1000-interleaving target
SEED = 20260817


def test_tableio_multiwriter_fuzz(spark, events, tmp_path):
    root = str(tmp_path / "fuzz_tier")
    tio = TableIO(root)
    now = dt.datetime(2024, 3, 1)  # fixed: cutoff == (now - keep).date()

    # bounded day universe from the events table, so expires actually bite
    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    all_days = sorted(tio.done_partitions())
    assert len(all_days) >= 3, "fixture too small for the fuzz to mean anything"
    keeps = [  # windows that land cutoffs across the day range
        max(1, int((now - dt.datetime.fromisoformat(d)).total_seconds()))
        for d in all_days
    ]

    errors: list[str] = []

    def check_reader(seen: dict | None = None):
        """``seen`` is per-THREAD state: a single thread's successive
        manifest reads are sequenced (the pointer only advances), so the
        cutoff must be monotone within a thread — a cross-thread max
        would race (read A can be older than read B yet checked later)."""
        m = tio.manifest()
        if m is None:
            return
        # I1: every referenced path exists (commit fully materializes
        # data + manifest before the pointer flip; metadata deletes keep
        # ancestor files for time travel, so paths never vanish)
        for pk, meta in m["partitions"].items():
            for path in meta.get("paths") or [meta["path"]]:
                if not os.path.exists(os.path.join(root, path)):
                    errors.append(f"dangling partition path {path} in {m['snapshot_id']}")
        metrics = m.get("metrics") or {}
        cut = metrics.get("retention_cutoff_day")
        if cut is not None:
            if seen is not None:
                # I2: monotone within this thread's read sequence
                if cut < seen.get("cutoff", ""):
                    errors.append(f"cutoff regressed {seen['cutoff']} -> {cut}")
                seen["cutoff"] = max(seen.get("cutoff", ""), cut)
            ks = metrics.get("keep_seconds")
            if ks is not None:
                want = (now - dt.timedelta(seconds=ks)).date().isoformat()
                # I3: persisted window produced the persisted cutoff
                if want != cut:
                    errors.append(f"keep_seconds {ks} inconsistent with cutoff {cut}")

    def plant_orphan(rng: random.Random):
        # a real crashed writer renamed its stage while HOLDING the commit
        # flock (released only by process death), so the faithful
        # simulation plants under the lock — otherwise the plant races a
        # live committer's reap-then-rename window, which no real crash can
        with tio._commit_lock():
            cur = tio.current_snapshot() or "snap-000000"
            n = int(cur.split("-")[1]) + 1
            orphan = os.path.join(root, f"snap-{n:06d}")
            os.makedirs(os.path.join(orphan, "dt=1970-01-01"), exist_ok=True)
            with open(os.path.join(orphan, "dt=1970-01-01", "junk.parquet"), "w") as f:
                f.write("garbage")
            with open(
                os.path.join(root, "_manifests", f"snap-{n:06d}.json"), "w"
            ) as f:
                json.dump(
                    {"snapshot_id": f"snap-{n:06d}", "partitions": {"bogus": {}}}, f
                )

    def plant_stale_stage(rng: random.Random):
        stage = os.path.join(root, f".stage-fuzz{rng.randrange(1 << 30):x}")
        try:
            os.makedirs(stage, exist_ok=True)
            past = time.time() - 48 * 3600
            os.utime(stage, (past, past))
        except (FileExistsError, FileNotFoundError):
            pass  # a concurrent GC raced the utime — fine

    def worker(tid: int):
        rng = random.Random(SEED + tid)
        seen: dict = {}
        for _ in range(OPS_PER_THREAD):
            op = rng.random()
            try:
                if op < 0.03:  # refresh a random slice (Spark write)
                    lo = rng.randrange(0, 100)
                    refresh_tier(
                        spark,
                        events.filter(
                            (F.col("user_id") >= lo) & (F.col("user_id") < lo + 40)
                        ),
                        root,
                        ["user_id"],
                        "ts",
                        "value",
                        tier="1d",
                        job=f"refresh-t{tid}",
                    )
                elif op < 0.25:  # expire with a random window
                    expire_tier(root, now, keep_seconds=rng.choice(keeps))
                elif op < 0.45:  # metadata-only commit
                    tio.commit_metrics({f"fuzz_t{tid}": rng.randrange(1000)})
                elif op < 0.58:  # drop a random day (metadata delete)
                    tio.drop_partitions([rng.choice(all_days)], job=f"drop-t{tid}")
                elif op < 0.64:
                    plant_orphan(rng)
                elif op < 0.70:
                    plant_stale_stage(rng)
                elif op < 0.76:
                    tio.gc_stale_staging(max_age_seconds=24 * 3600)
                else:  # reader
                    check_reader(seen)
            except Exception as exc:  # noqa: BLE001 — fuzz: any raise is a bug
                errors.append(f"t{tid} {type(exc).__name__}: {exc}")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors[:10]

    # ---- quiesced invariants -----------------------------------------
    m = tio.manifest()
    final_cut = (m.get("metrics") or {}).get("retention_cutoff_day", "")
    check_reader()
    assert not errors, errors[:10]

    # I4: a full refresh from the cumulative source must NOT resurrect
    # days the retention fence expired
    refresh_tier(spark, events, root, ["user_id"], "ts", "value", tier="1d")
    post = sorted(TableIO(root).done_partitions())
    resurrected = [d for d in post if d < final_cut]
    assert resurrected == [], (final_cut, resurrected)

    # I5: one more metadata commit reaps any orphan planted last; then
    # every snap dir on disk at-or-below _current is legitimate and the
    # only snap dir past _current is none
    tio.commit_metrics({"final_sweep": 1})
    cur_n = int(tio.current_snapshot().split("-")[1])
    for name in os.listdir(root):
        if name.startswith("snap-"):
            assert int(name.split("-")[1]) <= cur_n, f"orphan {name} survived"
    # every writer's own staging was committed or discarded: only the
    # planted stale dirs are left, one sweep reaps all of them and a
    # second finds nothing
    planted = {
        os.path.join(root, n) for n in os.listdir(root) if n.startswith(".stage-")
    }
    assert all(os.path.basename(p).startswith(".stage-fuzz") for p in planted), planted
    assert set(tio.gc_stale_staging(max_age_seconds=24 * 3600)) == planted
    assert tio.gc_stale_staging(max_age_seconds=24 * 3600) == []

    # the table still reads end-to-end
    assert TableIO(root).read(spark).count() > 0
