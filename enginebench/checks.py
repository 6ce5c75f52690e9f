"""Correctness checks. Each takes the program's output as plain Python or
pandas values together with what an independent computation (DuckDB,
numpy, or a property the method must have) says it should be, and
raises :class:`CheckFailed` on any disagreement. Keeping them pure lets
the self-test feed each one a perturbed output.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from enginebench.harness import expect


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: the rows sorted by every
    column, rendered as CSV (the registry's own comparison rule)."""
    return hashlib.md5(_sorted(df).to_csv(index=False).encode()).hexdigest()


def same_hash(actual: pd.DataFrame, expected_hash: str, expected_rows: int, what: str) -> None:
    expect(len(actual) == expected_rows, f"{what}: {len(actual)} rows, oracle {expected_rows}")
    expect(frame_hash(actual) == expected_hash, f"{what}: result hash differs from its oracle")


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame, what: str) -> None:
    """Exact row-multiset equality (NULL equals NULL)."""
    expect(
        sorted(actual.columns) == sorted(expected.columns),
        f"{what}: columns {sorted(actual.columns)} != {sorted(expected.columns)}",
    )
    expect(len(actual) == len(expected), f"{what}: {len(actual)} rows, expected {len(expected)}")
    a, e = _sorted(actual), _sorted(expected)
    bad = []
    for c in a.columns:
        av, ev = a[c], e[c]
        if pd.api.types.is_datetime64_any_dtype(av) or pd.api.types.is_datetime64_any_dtype(ev):
            av = pd.to_datetime(av).astype("datetime64[us]")
            ev = pd.to_datetime(ev).astype("datetime64[us]")
        differ = ~((av.to_numpy() == ev.to_numpy()) | (av.isna().to_numpy() & ev.isna().to_numpy()))
        if differ.any():
            bad.append(f"{c} ({int(differ.sum())} rows)")
    expect(not bad, f"{what}: values differ in {', '.join(bad)}")


def same_set(actual, expected, what: str) -> None:
    expect(sorted(map(str, actual)) == sorted(map(str, expected)), f"{what}: {sorted(actual)} != {sorted(expected)}")


def noop_refresh(results: dict, snapshots_before: dict, snapshots_after: dict) -> None:
    """A re-run with no new data processes nothing and commits nothing."""
    for table, r in results.items():
        expect(not r["processed"], f"no-op refresh of {table} processed {r['processed']}")
    expect(snapshots_after == snapshots_before, f"no-op refresh moved snapshots: {snapshots_before} -> {snapshots_after}")


def lttb_properties(result: pd.DataFrame, source: pd.DataFrame, n_out: int) -> None:
    """LTTB has no SQL oracle: it keeps at most ``n_out`` points per key,
    always keeps each series' first and last point, and outputs only
    points of the input."""
    counts = result.groupby("user_id").size()
    expect(int(counts.max()) <= n_out, f"lttb: {int(counts.max())} points for one key, limit {n_out}")
    ends = source.sort_values(["user_id", "ts"]).groupby("user_id")["ts"].agg(["first", "last"])
    got = result.groupby("user_id")["ts"].agg(["min", "max"])
    expect(set(got.index) == set(ends.index), "lttb: the set of keys changed")
    expect(
        (got["min"].to_numpy() == ends.loc[got.index, "first"].to_numpy()).all()
        and (got["max"].to_numpy() == ends.loc[got.index, "last"].to_numpy()).all(),
        "lttb: a series lost its first or last point",
    )
    merged = result.merge(source[["user_id", "ts", "value"]], on=["user_id", "ts", "value"], how="left", indicator=True)
    expect((merged["_merge"] == "both").all(), "lttb: output holds a point that is not in the input")


def knn_distances(result: pd.DataFrame, brute: dict[int, np.ndarray], k: int) -> None:
    """Exact k-NN: per query, the returned distances equal the k smallest
    brute-force distances (ties may pick different windows)."""
    for qid, best in brute.items():
        got = np.sort(result.loc[result["query_id"] == qid, "dist"].to_numpy())
        expect(got.size == min(k, best.size), f"knn: query {qid} returned {got.size} rows, expected {min(k, best.size)}")
        expect(
            np.allclose(got, best[: got.size], rtol=1e-9, atol=1e-9),
            f"knn: query {qid} distances {got.tolist()} != brute force {best[: got.size].tolist()}",
        )


def lower_bounds(lb: np.ndarray, true_dist: np.ndarray) -> None:
    """The SFA distance must lower-bound the true distance of every pair."""
    expect(
        bool(np.all(lb <= true_dist * (1 + 1e-9) + 1e-9)),
        f"knn: SFA lower bound exceeds the true distance for {int((lb > true_dist * (1 + 1e-9) + 1e-9).sum())} pairs",
    )


def word_counts(actual: dict, series_lengths: dict, window: int) -> None:
    """n - w + 1 words per series of n points."""
    expected = {k: max(n - window + 1, 0) for k, n in series_lengths.items()}
    expected = {k: v for k, v in expected.items() if v}
    diff = {k for k in set(actual) | set(expected) if actual.get(k) != expected.get(k)}
    expect(not diff, f"words: {len(diff)} series have the wrong word count, e.g. {sorted(diff)[:3]}")


def symbols_in_alphabet(symbols: np.ndarray, alphabet: int) -> None:
    expect(
        bool(((symbols >= 0) & (symbols < alphabet)).all()),
        f"words: a symbol lies outside 0..{alphabet - 1}",
    )


def words_match(actual: np.ndarray, rederived: np.ndarray, ambiguous: np.ndarray) -> None:
    """Words from the program equal words re-derived by a per-window DFT,
    except where the re-derived coefficient sits within float noise of
    a bin edge (``ambiguous``), where either side of the edge is right."""
    differ = (actual != rederived) & ~ambiguous
    expect(not differ.any(), f"words: {int(differ.any(axis=-1).sum())} windows differ from the per-window DFT")
    expect(
        ambiguous.any(axis=-1).mean() <= 0.05,
        f"words: {ambiguous.any(axis=-1).mean():.1%} of windows sit on a bin edge",
    )
