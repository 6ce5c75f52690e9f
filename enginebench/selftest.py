"""Self-test of the benchmark.

  python3 enginebench/selftest.py            # checks + every workload at tiny scale
  python3 enginebench/selftest.py --checks   # the perturbation checks only (no Spark)

1. Every correctness check is fed one output it must accept and one
   perturbed output (a value changed, or a row dropped), and must reject
   the perturbed one.
2. Each workload runs end to end at ``--scale tiny`` (about 1,000 input
   rows, the size of the registry's sf0.001 data), untraced, and one
   workload also traced; each must print a correct result line with
   exactly the metrics ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from enginebench import checks  # noqa: E402
from enginebench.harness import CheckFailed  # noqa: E402


def rejects(fn, *args) -> bool:
    try:
        fn(*args)
    except CheckFailed:
        return True
    return False


def tier_frame() -> pd.DataFrame:
    ts = pd.date_range("2024-01-01", periods=6, freq="h")
    return pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 2],
            "bucket_ts": ts,
            "n": [3, 1, 2, 5, 1, 1],
            "sum": [1.5, 2.25, 3.0, 4.0, 0.5, 7.75],
            "last": [0.5, 2.25, 1.0, 1.0, 0.5, 7.75],
        }
    )


def drop_row(df: pd.DataFrame) -> pd.DataFrame:
    return df.iloc[1:].reset_index(drop=True)


def change_value(df: pd.DataFrame, col: str) -> pd.DataFrame:
    out = df.copy()
    out.loc[0, col] = out.loc[0, col] + 1
    return out


def check_cases() -> list[tuple[str, object, tuple, tuple]]:
    """(name, check, accepted args, perturbed args) for every check."""
    t = tier_frame()
    rng = np.random.default_rng(0)
    src = pd.DataFrame(
        {
            "user_id": np.repeat([1, 2], 50),
            "ts": np.tile(pd.date_range("2024-01-01", periods=50, freq="min"), 2),
            "value": rng.normal(size=100),
        }
    )
    pos = src.groupby("user_id").cumcount()
    last = pos == src.groupby("user_id")["ts"].transform("size") - 1
    lttb = src[(pos % 5 == 0) | last].reset_index(drop=True)  # first, last and points between
    brute = {0: np.array([0.5, 1.0, 2.0]), 1: np.array([0.1, 0.2, 0.3])}
    knn = pd.DataFrame({"query_id": [0, 0, 0, 1, 1, 1], "dist": [0.5, 1.0, 2.0, 0.1, 0.2, 0.3]})
    lengths = {("a", "x"): 40, ("b", "x"): 20}
    counts = {("a", "x"): 25, ("b", "x"): 5}
    words = rng.integers(0, 4, (30, 4))
    edge = np.zeros_like(words, dtype=bool)
    snaps = {"tier_1m": "snap-000001"}
    return [
        ("same_rows/value", checks.same_rows, (t, t.copy(), "tier"), (change_value(t, "sum"), t, "tier")),
        ("same_rows/row", checks.same_rows, (t, t.copy(), "tier"), (drop_row(t), t, "tier")),
        (
            "same_hash/value",
            checks.same_hash,
            (t, checks.frame_hash(t), len(t), "q"),
            (change_value(t, "last"), checks.frame_hash(t), len(t), "q"),
        ),
        ("same_hash/row", checks.same_hash, (t, checks.frame_hash(t), len(t), "q"), (drop_row(t), checks.frame_hash(t), len(t), "q")),
        ("same_set", checks.same_set, (["2024-01-03"], ["2024-01-03"], "days"), (["2024-01-03", "2024-01-04"], ["2024-01-03"], "days")),
        (
            "noop_refresh",
            checks.noop_refresh,
            ({"1m": {"processed": []}}, snaps, dict(snaps)),
            ({"1m": {"processed": ["2024-01-01"]}}, snaps, dict(snaps)),
        ),
        ("lttb/first-last", checks.lttb_properties, (lttb, src, 32), (drop_row(lttb), src, 32)),
        ("lttb/value", checks.lttb_properties, (lttb, src, 32), (change_value(lttb, "value"), src, 32)),
        ("lttb/count", checks.lttb_properties, (lttb, src, 32), (lttb, src, 5)),
        ("knn/value", checks.knn_distances, (knn, brute, 3), (change_value(knn, "dist"), brute, 3)),
        ("knn/row", checks.knn_distances, (knn, brute, 3), (drop_row(knn), brute, 3)),
        ("lower_bounds", checks.lower_bounds, (np.array([0.1, 0.5]), np.array([0.2, 0.5])), (np.array([0.3, 0.5]), np.array([0.2, 0.5]))),
        ("word_counts/value", checks.word_counts, (counts, lengths, 16), ({**counts, ("a", "x"): 24}, lengths, 16)),
        ("word_counts/row", checks.word_counts, (counts, lengths, 16), ({("a", "x"): 25}, lengths, 16)),
        ("symbols", checks.symbols_in_alphabet, (words, 4), (np.where(np.arange(words.size).reshape(words.shape) == 7, 4, words), 4)),
        ("words_match", checks.words_match, (words, words.copy(), edge), (words, (words + (np.arange(words.size).reshape(words.shape) == 3)) % 4, edge)),
    ]


def run_checks() -> bool:
    ok = True
    for name, fn, good, bad in check_cases():
        accepted = not rejects(fn, *good)
        rejected = rejects(fn, *bad)
        ok &= accepted and rejected
        print(f"check {name}: accepts good={accepted} rejects perturbed={rejected}")
    return ok


def declared_metrics(trace: int) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_workload(workload: str, trace: int) -> bool:
    cmd = [
        sys.executable, os.path.join(ROOT, "enginebench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    good = (
        p.returncode == 0
        and result.get("correct") is True
        and result.get("failed") == 0
        and set(result.get("metrics", {})) == declared_metrics(trace)
    )
    print(f"workload {workload} trace={trace}: exit={p.returncode} correct={result.get('correct')} "
          f"attempted={result.get('attempted')} metrics={len(result.get('metrics', {}))}")
    if not good:
        print(p.stderr[-4000:], file=sys.stderr)
    return good


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--checks", action="store_true", help="perturbation checks only")
    args = ap.parse_args()
    ok = run_checks()
    if not args.checks:
        for w in ("ingest_refresh", "tier_queries", "sfa_search"):
            ok &= run_workload(w, 0)
        ok &= run_workload("ingest_refresh", 1)
    print("selftest:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
