"""Workload ``tier_queries``: the read path. One round is one pass of a
fixed mix of the registry's time-series queries (``sfa_spark.queries``),
run one after another by one client; each result goes to the client
with ``toPandas()`` and is compared with the query's DuckDB oracle from
the registry. LTTB has no oracle and is checked by its properties.
"""

from __future__ import annotations

import os

import duckdb

from enginebench import checks
from enginebench.harness import Run
from enginebench.inputs import make_events, shape

MIX = (
    "locf_gapfill_1h",
    "m4_daily_16",
    "lttb_32_per_user",
    "ewma_alpha02",
    "holt_level_trend",
    "twa_1h",
    "counter_rate_1h",
    "hll_users_daily",
    "hist_p95_daily",
    "gaps_daily",
    "asof_click_before_purchase",
    "seasonal_anomaly_1h",
    "decode_roundtrip_1h",
    "time_travel_1d",
)
LTTB = "lttb_32_per_user"
LTTB_POINTS = 32


class TierQueries:
    name = "tier_queries"

    def prepare(self, run: Run) -> None:
        """The events file and every oracle's result (no Spark)."""
        from sfa_spark.queries import oracle_sql, queries

        self.sf_dir = make_events(os.path.join(run.work, "inputs", "events"), run.seed, shape("events", run.scale))
        registry, oracles = queries(), oracle_sql()
        self.fns = {name: registry[name] for name in MIX}
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf_dir}/events.parquet')")
        self.expected = {}
        for name in MIX:
            if name != LTTB:
                df = con.execute(oracles[name]).df()
                self.expected[name] = (checks.frame_hash(df), len(df))
        self.events = con.execute("SELECT user_id, ts, value FROM events").df()
        con.close()

    def check(self, name: str, result) -> None:
        if name == LTTB:
            checks.lttb_properties(result, self.events, LTTB_POINTS)
        else:
            checks.same_hash(result, *self.expected[name], name)

    def query(self, run: Run, name: str):
        with run.span("queries", name):
            return self.fns[name](run.spark, self.sf_dir).toPandas()

    def round(self, run: Run, i: int) -> list:
        ops = []
        for name in MIX:
            op, result = run.timed(name, self.query, run, name)
            ops.append(op)
            with run.checking():
                self.check(name, result)
        return ops
