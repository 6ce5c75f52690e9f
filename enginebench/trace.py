"""Traced runs: spans around every call into an engine layer, and Spark
counters from the event log attributed to those spans.

The spans are recorded from this package only. ``Tracer`` replaces the
public functions of each layer module with wrappers (in every loaded
``sfa_spark`` module that bound them), so calls between layers are
traced too. Spark is lazy, so a wrapped call that returns a DataFrame
is followed by one action (a ``noop`` write) inside its span: the span
then covers that layer's work. This adds work, which is why end-to-end
figures come from untraced runs only.

Every span sets the Spark local property ``enginebench.span`` and the
job description, so each stage in the event log names the innermost
span that submitted it. Counters of a stage belong to that span alone
(self counts); a layer's figures are the sums over its spans, divided
by the number of timed rounds.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import sys
import time

SPAN_PROPERTY = "enginebench.span"

#: layer -> (module, public callables); the layer names are the modules'
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "rollup": ("sfa_spark.rollup", ("rollup_tier", "reaggregate", "gap_fill_locf")),
    "encode": ("sfa_spark.encode", ("encode_tier_blocks_gapfill", "decode_blocks")),
    "tableio": (
        "sfa_spark.tableio",
        ("TableIO.write_snapshot", "TableIO.read", "TableIO.drop_partitions", "TableIO.commit_metrics"),
    ),
    "incremental": (
        "sfa_spark.incremental",
        ("refresh_tier", "refresh_encoded_tier", "expire_tier", "read_tier", "read_encoded_tier"),
    ),
    "extract": ("sfa_spark.extract", ("with_signals",)),
    "pipeline": ("sfa_spark.pipeline", ("run_pipeline", "sfa_downsample_words", "signals_long")),
    "transform": ("sfa_spark.transform.sfa_df", ("fit_windowing_df", "transform_windowing_df")),
    "operators.downsample": ("sfa_spark.operators.downsample", ("m4_downsample", "lttb_downsample")),
    "operators.smoothing": ("sfa_spark.operators.smoothing", ("ewma", "holt")),
    "operators.sketches": ("sfa_spark.operators.sketches", ("hll_registers", "hll_merge", "hll_estimate")),
    "operators.word_index": ("sfa_spark.operators.word_index", ("build_word_index", "knn_query_index_batch")),
    # spans opened by the tier_queries workload around each registry query
    "queries": ("sfa_spark.queries", ()),
}

SPARK_COUNTERS = ("spark_jobs", "tasks", "scan_rows", "shuffle_write_bytes", "spill_bytes", "python_rows")
COUNTERS = ("self_s", "calls", *SPARK_COUNTERS, "persisted_left")
_PY_NODE = re.compile(r"Python|Pandas|InArrow")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.paused = 0
        self.first_measured = 0
        self.tally = {"planned": 0, "processed": 0, "results": 0}
        self._install()

    # -- spans ---------------------------------------------------------------
    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if self.paused:
            yield None
            return
        s = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "persisted_before": self._persisted(),
            "start": time.perf_counter(),
        }
        self.spans.append(s)
        self.stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["persisted_after"] = self._persisted()
            self.stack.pop()
            self._tag(self.stack[-1] if self.stack else None)

    def _tag(self, s: dict | None) -> None:
        self.sc.setLocalProperty(SPAN_PROPERTY, None if s is None else str(s["id"]))
        self.sc.setJobDescription(None if s is None else f"{s['layer']}:{s['name']}")

    @contextlib.contextmanager
    def pause(self):
        """Checks run untraced: their Spark jobs belong to no layer."""
        self.paused += 1
        saved = self.stack[-1] if self.stack else None
        self._tag(None)
        try:
            yield
        finally:
            self.paused -= 1
            self._tag(saved)

    def start_measuring(self) -> None:
        self.first_measured = len(self.spans)
        self.tally = dict.fromkeys(self.tally, 0)

    # -- instrumentation -------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        from pyspark.sql import DataFrame

        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.paused:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out.write.format("noop").mode("overwrite").save()
                tracer._count(name, out)
                return out

        return traced

    def _count(self, name: str, out) -> None:
        if name in ("refresh_tier", "refresh_encoded_tier"):
            self.tally["planned"] += len(out["planned"])
            self.tally["processed"] += len(out["processed"])
        elif name == "knn_query_index_batch":
            self.tally["results"] += len(out[0])

    def _install(self) -> None:
        replaced = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for qual in names:
                owner, attr = mod, qual
                if "." in qual:
                    cls, attr = qual.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, attr)
                wrapped = self._wrap(layer, qual, orig)
                setattr(owner, attr, wrapped)
                replaced[id(orig)] = wrapped
        # modules that bound a layer function at import time get the wrapper too
        for name, mod in list(sys.modules.items()):
            if not name.startswith("sfa_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if callable(v) and id(v) in replaced:
                    setattr(mod, k, replaced[id(v)])

    # -- results -------------------------------------------------------------------
    def measured(self) -> list[dict]:
        return self.spans[self.first_measured :]

    def layer_metrics(self, log_dir: str, rounds: int) -> dict:
        """Per-layer counters per timed round, plus the two ratios."""
        per_span = read_event_log(log_dir)
        spans = self.measured()
        by_id = {s["id"]: s for s in spans}
        child_time: dict[int, float] = {}
        for s in spans:
            if s["parent"] in by_id:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        totals = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        for s in spans:
            s["self_s"] = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            # a cache is usually filled inside a nested call, not where it
            # was requested: count what a call from the benchmark leaves
            outer = by_id.get(s["parent"], {}).get("layer") not in LAYERS
            s["persisted_left"] = s["persisted_after"] - s["persisted_before"] if outer else 0
            s.update(per_span.get(str(s["id"]), dict.fromkeys(SPARK_COUNTERS, 0)))
            s["calls"] = 1
            if s["layer"] not in LAYERS:
                continue  # the benchmark's own operation spans
            for c in COUNTERS:
                totals[f"{s['layer']}.{c}"] += s[c]
        n = max(rounds, 1)
        out = {}
        for k, v in totals.items():
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
            out[k] = {"value": v / n, "unit": unit}
        t = self.tally
        out["incremental.processed_per_planned"] = {
            "value": t["processed"] / t["planned"] if t["planned"] else 0.0,
            "unit": "ratio",
        }
        scanned = sum(s["scan_rows"] for s in spans if s["name"] == "knn_query_index_batch")
        out["operators.word_index.verified_per_result"] = {
            "value": scanned / t["results"] if t["results"] else 0.0,
            "unit": "ratio",
        }
        return out

    def span_table(self) -> list[dict]:
        keep = ("id", "parent", "layer", "name", "start", "end", "persisted_before", "persisted_after", *COUNTERS)
        return [{k: s.get(k) for k in keep} for s in self.measured()]


def _python_input_rows(node: dict, acc: set[int]) -> None:
    """Collect, for every Python/Arrow UDF operator in a plan, the
    accumulator that counts the rows entering it: the first ``number of
    output rows`` (or a shuffle's ``records read``) below it."""

    def rows_of(n: dict) -> list[int]:
        for m in n.get("metrics", []):
            if m["name"] in ("number of output rows", "records read"):
                return [m["accumulatorId"]]
        out = []
        for c in n.get("children", []):
            out += rows_of(c)
        return out

    if _PY_NODE.search(node.get("nodeName", "")):
        for c in node.get("children", []):
            acc.update(rows_of(c))
    for c in node.get("children", []):
        _python_input_rows(c, acc)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Spark counters per span id, from the uncompressed event log."""
    events = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            events += [json.loads(line) for line in f]
    # plans first: an AQE re-plan can name an accumulator after tasks used it
    py_acc: set[int] = set()
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_input_rows(e["sparkPlanInfo"], py_acc)
    stage_span: dict[int, str | None] = {}
    per_span: dict[str, dict] = {}

    def bucket(span: str | None) -> dict | None:
        if span is None:
            return None
        return per_span.setdefault(span, dict.fromkeys(SPARK_COUNTERS, 0))

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            b = bucket((e.get("Properties") or {}).get(SPAN_PROPERTY))
            if b is not None:
                b["spark_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            stage_span[e["Stage Info"]["Stage ID"]] = span
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_span.get(e["Stage ID"]))
            if b is None:
                continue
            m = e.get("Task Metrics") or {}
            b["tasks"] += 1
            b["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("ID") in py_acc and a.get("Update") is not None:
                    b["python_rows"] += int(a["Update"])
    return per_span
