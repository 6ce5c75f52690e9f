"""Workload ``ingest_refresh``: the write and retention path of the
production job (``jobs/run_pipeline.py``).

One round, into an empty root:
  1. cold build of the day-partitioned 1m -> 1h -> 1d cascade and the
     encoded-blocks table of the 1m tier;
  2. the same refresh again with no new data;
  3. a refresh after late rows land in one closed day for a few keys;
  4. ``expire_tier`` on every tier, then a refresh that must not bring
     the expired days back.
After each step every committed tier is compared with DuckDB's GROUP BY
over the cumulative source, and the decoded encoded table with DuckDB's
LOCF of the same tier.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import duckdb
import pandas as pd

from enginebench import checks
from enginebench.harness import Run, expect
from enginebench.inputs import make_ingest, shape

TIERS = ("1m", "1h", "1d")
TABLES = ("tier_1m", "tier_1h", "tier_1d", "encoded_1m")
UNITS = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_COLS = "user_id, bucket_ts, n, round(sum, 6) AS sum, min, max, first, last"
ORACLE_TIER = """
SELECT user_id, date_trunc('{unit}', ts) AS bucket_ts, count(value) AS n,
       round(sum(value), 6) AS sum, min(value) AS min, max(value) AS max,
       arg_min(value, ts) AS first, arg_max(value, ts) AS last
FROM {src} WHERE CAST(ts AS DATE) >= DATE '{cutoff}'
GROUP BY 1, 2
"""
ORACLE_LOCF = """
WITH agg AS (
  SELECT user_id, date_trunc('minute', ts) AS bucket_ts, arg_max(value, ts) AS lastv
  FROM {src} WHERE CAST(ts AS DATE) >= DATE '{cutoff}' GROUP BY 1, 2
), span AS (
  SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_ts FROM span
)
SELECT s.user_id, s.bucket_ts,
       last_value(a.lastv IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)
"""


def committed_files(root: str) -> list[str]:
    """Parquet files of the live snapshot, listed from its manifest."""
    from sfa_spark.tableio import TableIO

    m = TableIO(root).manifest() or {"partitions": {}}
    out = []
    for meta in m["partitions"].values():
        for rel in meta.get("paths") or [meta["path"]]:
            d = os.path.join(root, rel)
            out += [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    return out


class IngestRefresh:
    name = "ingest_refresh"

    def prepare(self, run: Run) -> None:
        """Inputs and DuckDB's reference results (no Spark)."""
        self.inp = make_ingest(os.path.join(run.work, "inputs", "ingest"), run.seed, shape("ingest", run.scale))
        sh = self.inp.shape
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW base AS SELECT * FROM read_parquet('{self.inp.base}')")
        self.con.execute(
            f"CREATE VIEW allsrc AS SELECT * FROM read_parquet(['{self.inp.base}', '{self.inp.late}'])"
        )
        self.days = [self.inp.day(i) for i in range(sh.days)]
        self.cutoff = self.inp.day(sh.days - sh.keep_days)
        self.expired = [d for d in self.days if d < self.cutoff]
        # the late rows' days, as DuckDB finds them
        self.late_days = [
            str(r[0]) for r in self.con.execute(
                f"SELECT DISTINCT CAST(ts AS DATE) FROM read_parquet('{self.inp.late}')"
            ).fetchall()
        ]
        first = self.days[0]
        self.expected = {
            state: (
                {t: self.con.execute(ORACLE_TIER.format(unit=UNITS[t], src=src, cutoff=cut)).df() for t in TIERS},
                self.con.execute(ORACLE_LOCF.format(src=src, cutoff=cut)).df(),
            )
            for state, src, cut in (
                ("base", "base", first),
                ("late", "allsrc", first),
                ("kept", "allsrc", self.cutoff),
            )
        }
        self.source_rows = self.con.execute("SELECT count(*) FROM base").fetchone()[0]

    # -- the operations ---------------------------------------------------
    def refresh(self, run: Run, src_paths: list[str], root: str) -> dict:
        """The production job's refresh: tier cascade, then the encoded
        table of the finest tier, each committed as a snapshot."""
        from sfa_spark.incremental import read_tier, refresh_encoded_tier, refresh_tier

        spark = run.spark
        out = {}
        src = spark.read.parquet(*src_paths).select("user_id", "ts", "value")
        prev = None
        for t in TIERS:
            troot = os.path.join(root, f"tier_{t}")
            if prev is None:
                out[t] = refresh_tier(spark, src, troot, ["user_id"], "ts", "value", tier=t, job=f"bench_{t}")
            else:
                out[t] = refresh_tier(
                    spark, read_tier(spark, prev), troot, ["user_id"], "bucket_ts", "value",
                    tier=t, job=f"bench_{t}", source="tier",
                )
            prev = troot
        out["encoded"] = refresh_encoded_tier(
            spark, read_tier(spark, os.path.join(root, "tier_1m")), os.path.join(root, "encoded_1m"),
            ["user_id"], tier="1m", job="bench_encode_1m",
        )
        return out

    def expire_and_refresh(self, run: Run, src_paths: list[str], root: str) -> tuple[dict, dict]:
        from sfa_spark.incremental import expire_tier

        now = dt.datetime.fromisoformat(self.days[-1]) + dt.timedelta(days=1)
        keep = self.inp.shape.keep_days * 86400
        expired = {t: expire_tier(os.path.join(root, f"tier_{t}"), now, keep_seconds=keep) for t in TIERS}
        return expired, self.refresh(run, src_paths, root)

    # -- the checks ---------------------------------------------------------
    def snapshots(self, root: str) -> dict:
        from sfa_spark.tableio import TableIO

        return {t: TableIO(os.path.join(root, t)).current_snapshot() for t in TABLES}

    def committed_tier(self, root: str, t: str) -> pd.DataFrame:
        files = committed_files(os.path.join(root, f"tier_{t}"))
        return self.con.execute(f"SELECT {TIER_COLS} FROM read_parquet({files!r})").df()

    def check_state(self, run: Run, root: str, state: str) -> None:
        from sfa_spark.incremental import read_encoded_tier

        tiers, locf = self.expected[state]
        for t in TIERS:
            checks.same_rows(self.committed_tier(root, t), tiers[t], f"{state}: tier {t}")
        decoded = read_encoded_tier(run.spark, os.path.join(root, "encoded_1m"), ["user_id"]).toPandas()
        checks.same_rows(decoded, locf, f"{state}: decoded encoded_1m")

    def round(self, run: Run, i: int) -> list:
        root = os.path.join(run.work, f"ingest-round-{i}")
        base, both = [self.inp.base], [self.inp.base, self.inp.late]
        ops = []

        op, res = run.timed("cold_build", self.refresh, run, base, root)
        ops.append(op)
        with run.checking():
            for t in TIERS:
                checks.same_set(res[t]["processed"], self.days, f"cold build of tier {t}: processed days")
            self.check_state(run, root, "base")
            before = self.snapshots(root)
        op, res = run.timed("noop_refresh", self.refresh, run, base, root)
        ops.append(op)
        with run.checking():
            checks.noop_refresh(res, before, self.snapshots(root))

        op, res = run.timed("late_refresh", self.refresh, run, both, root)
        ops.append(op)
        with run.checking():
            for t in TIERS:
                checks.same_set(res[t]["processed"], self.late_days, f"late refresh of tier {t}: processed days")
            expect(bool(res["encoded"]["processed"]), "late refresh re-encoded no bucket")
            self.check_state(run, root, "late")
            if i == 0:
                run.extra.update(self.sizes(root))

        op, (expired, res) = run.timed("retention_refresh", self.expire_and_refresh, run, both, root)
        ops.append(op)
        with run.checking():
            checks.same_set(res["1m"]["expired"], self.expired, "refresh after expire: days fenced from the source")
            for t in TIERS:
                checks.same_set(expired[t]["dropped"], self.expired, f"expire of tier {t}: dropped days")
                expect(not res[t]["processed"], f"refresh after expire of tier {t} processed {res[t]['processed']}")
            self.check_state(run, root, "kept")

        shutil.rmtree(root)
        return ops

    def check_trace(self, run: Run) -> None:
        """The 1m refresh of the first timed cold build reads the source
        a whole number of times: its scan counter from the event log
        over the row count DuckDB reads from the same file."""
        spans = run.tracer.measured()
        cold = next(s for s in spans if s["name"] == "cold_build")
        refresh = next(s for s in spans if s["parent"] == cold["id"] and s["name"] == "refresh_tier")
        subtree, inclusive = {refresh["id"]}, 0
        for s in spans:  # spans are in start order: a parent precedes its children
            if s["id"] in subtree or s["parent"] in subtree:
                subtree.add(s["id"])
                inclusive += s["scan_rows"]
        for what, rows in (("self", refresh["scan_rows"]), ("with nested calls", inclusive)):
            expect(
                rows > 0 and rows % self.source_rows == 0,
                f"1m refresh scanned {rows} rows {what}, not a multiple of the source's {self.source_rows}",
            )
        run.extra["source_passes_1m_refresh"] = {
            "incremental_self": refresh["scan_rows"] // self.source_rows,
            "with_nested_calls": inclusive // self.source_rows,
        }

    def sizes(self, root: str) -> dict:
        """Bytes of the committed tables after the late refresh."""
        files = [f for t in TABLES for f in committed_files(os.path.join(root, t))]
        enc = committed_files(os.path.join(root, "encoded_1m"))
        blob = self.con.execute(
            f"SELECT sum(octet_length(dod_blob) + octet_length(gorilla_blob)) FROM read_parquet({enc!r})"
        ).fetchone()[0]
        return {
            "table_bytes": sum(os.path.getsize(f) for f in files),
            "encoded_bytes": int(blob),
        }
