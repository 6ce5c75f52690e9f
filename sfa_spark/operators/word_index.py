"""Persistent word-prefix-partitioned k-NN index — the Spark-native
analogue of the reference's external bulk-loaded SFATrie
(SFABulkLoadTest.java:372-520 partitions Fourier-transformed windows into
word-prefix buckets on disk and merges per-bucket tries;
SFATrie.java:366-380 mergeTrees; SFATrie.java:702-727 MBR lower bound).

Layout (TableIO snapshot, SURVEY §2.6/J5: "parquet min-max stats + prefix
partitioning as the MBR analogue"):

  index root/snap-*/prefix=<p>/...parquet     rows: (key, offset, word,
                                              c0..c{l-1}, window values)
  manifest metrics: per-prefix Fourier MBR (count, min/max per coefficient)
                    == the trie node bounding boxes, read from the
                    row-group min/max statistics of the files the write
                    staged (``TableIO.write_snapshot``'s
                    ``partition_stats``), so building costs the write alone

An index committed with a ``dft`` array column in place of c0..c{l-1}
is still searched and appended to: queries read only key, offset, word
and the window, and an append merges its boxes into the manifest's.

Query = the trie's best-first search flattened into two batched phases,
one Spark job each:
  1. seed: read ONLY the prefixes nearest the query word (by MBR lower
     bound) until ≥k windows are seen; exact-ED them → bound b.
  2. prune: every prefix whose MBR lower bound ≥ b is skipped WITHOUT
     reading its files (partition pruning — the trie's subtree skip);
     survivors get the per-row SFA lower bound + exact ED verify,
     distributed via mapInPandas.
Each task keeps one running top-k per query over its Arrow batches and
emits it once; the driver merges those few rows.

No false dismissals: both the MBR bound and the per-word bound
lower-bound true ED (EDBT'12), so the result equals brute force exactly
(tested). At 100 TB the index is bucketed by prefix across executors and
the manifest MBRs (α^prefix_len entries) stay driver-sized.
"""

from __future__ import annotations

import os
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sfa_spark.operators.distances import sfa_lower_bound
from sfa_spark.tableio import TableIO
from sfa_spark.transform import mft as _mft
from sfa_spark.transform.sfa import SFAModel, quantize

#: the columns a query reads, in both file layouts
_READ_SCHEMA = "key long, offset int, word array<smallint>, win array<double>"


def _prefix_of(words: np.ndarray, alphabet_size: int, prefix_len: int) -> np.ndarray:
    """(n, l) symbol matrix → (n,) integer prefix id (base-α digits)."""
    p = np.zeros(words.shape[0], dtype=np.int64)
    for i in range(prefix_len):
        p = p * alphabet_size + words[:, i].astype(np.int64)
    return p


def _transform_rows(
    series_df: DataFrame,
    model_dict: dict,
    prefix_len: int,
    key_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series sliding-window transform → (key, offset, prefix, word,
    c0..c{l-1}, win) rows (the shared build/append kernel)."""
    w = model_dict["window_size"]
    coefs = [f"c{i}" for i in range(model_dict["word_length"])]

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        m = SFAModel.from_dict(model_dict)
        key = pdf[key_col].iloc[0]
        x = pdf.sort_values(t_col)[value_col].to_numpy(dtype=np.float64)
        if x.size < w:
            return pd.DataFrame(
                {
                    "key": np.empty(0, dtype=np.int64),
                    "offset": np.empty(0, dtype=np.int32),
                    "prefix": np.empty(0, dtype=np.int64),
                    "word": [],
                    **{c: np.empty(0) for c in coefs},
                    "win": [],
                }
            )
        approx = _mft.transform_windowing(
            x, w, m.word_length, m.norm_mean, m.lower_bounding
        )
        words = quantize(approx, m.bins)
        prefix = _prefix_of(words, m.alphabet_size, prefix_len)
        wins = np.lib.stride_tricks.sliding_window_view(x, w)
        # windows are stored z-normalized (the search space the reference
        # indexes: initializeSubsequenceMatching norms each window)
        mu, sd = _mft.incremental_mean_std(x, w)
        mu = mu if m.norm_mean else np.zeros_like(mu)
        inv = np.where(sd > 0, 1.0 / np.where(sd > 0, sd, 1.0), 1.0)
        wn = (wins - mu[:, None]) * inv[:, None]
        n = words.shape[0]
        return pd.DataFrame(
            {
                "key": np.full(n, key, dtype=np.int64),
                "offset": np.arange(n, dtype=np.int32),
                "prefix": prefix,
                "word": list(words.astype(np.int16)),
                **{c: approx[:, i] for i, c in enumerate(coefs)},
                "win": list(wn),
            }
        )

    return series_df.groupBy(key_col).applyInPandas(
        per_series,
        schema="key long, offset int, prefix long, word array<smallint>, "
        + "".join(f"{c} double, " for c in coefs)
        + "win array<double>",
    )


def _mbr_stats(l: int) -> dict:
    """The trie node boxes as ``partition_stats``: per prefix, the window
    count and each coefficient's min and max over the staged files."""
    return {
        "mbrs": {
            "n": "*",
            "lo": [f"min(c{i})" for i in range(l)],
            "hi": [f"max(c{i})" for i in range(l)],
        }
    }


def _windows(manifest: dict) -> int:
    return int(sum(v["n"] for v in manifest["metrics"]["mbrs"].values()))


def build_word_index(
    series_df: DataFrame,
    model: SFAModel,
    root: str,
    key_col: str = "series_id",
    t_col: str = "t",
    value_col: str = "value",
    prefix_len: int = 2,
    job: str = "word_index",
) -> dict:
    """Sliding-window transform every series and persist the windows
    bucketed by SFA-word prefix, with per-prefix Fourier MBRs in the
    snapshot manifest. Returns {snapshot, prefixes, windows}."""
    model_dict = model.to_dict()
    rows = _transform_rows(series_df, model_dict, prefix_len, key_col, t_col, value_col)
    tio = TableIO(root)
    snap = tio.write_snapshot(
        rows,
        "prefix",
        job=job,
        metrics={"model": model_dict, "prefix_len": prefix_len},
        partition_stats=_mbr_stats(model.word_length),
    )
    m = tio.manifest(snap)
    return {
        "snapshot": snap,
        "prefixes": len(m["metrics"]["mbrs"]),
        "windows": _windows(m),
    }


def append_word_index(
    series_df: DataFrame,
    root: str,
    key_col: str = "series_id",
    t_col: str = "t",
    value_col: str = "value",
    job: str = "word_index_append",
) -> dict:
    """Incrementally add a batch of NEW series to an existing index —
    the SFATrie.mergeTrees analogue (SFATrie.java:366-380;
    SFABulkLoadTest.java:169-279 asserts post-merge == brute force).

    Only the new series are transformed (the committed model's bins are
    reused — the reference's bulk loader quantizes inserts against the
    frozen SFA too); their per-prefix files are written into a new
    snapshot whose manifest UNIONs paths per prefix
    (``merge_partitions``) and merges the MBRs (min/max/count are
    associative). No existing file is read or rewritten — at 100 TB,
    appends are the normal mode and a full rebuild is not."""
    tio = TableIO(root)
    m = tio.manifest()
    if m is None:
        raise FileNotFoundError(f"no index snapshot at {root}")
    model_dict = m["metrics"]["model"]
    prefix_len = m["metrics"]["prefix_len"]
    rows = _transform_rows(series_df, model_dict, prefix_len, key_col, t_col, value_col)
    # the boxes merge UNDER the commit lock into the then-current
    # manifest's (merge_partitions): merging into a manifest read before
    # the data write would lose a concurrent append's boxes — shrunken
    # MBRs mean FALSE DISMISSALS, not just bad bookkeeping
    snap = tio.write_snapshot(
        rows,
        "prefix",
        job=job,
        metrics={"model": model_dict, "prefix_len": prefix_len},
        partition_stats=_mbr_stats(model_dict["word_length"]),
        merge_partitions=True,
    )
    new = tio.manifest(snap)
    return {
        "snapshot": snap,
        "prefixes": len(new["metrics"]["mbrs"]),
        "windows": _windows(new),
        "appended_windows": _windows(new) - _windows(tio.manifest(new["parent"])),
    }


def _mbr_lb(
    dft_q: np.ndarray, lo: np.ndarray, hi: np.ndarray, normed: bool = True
) -> float:
    """SFATrie.getLowerBoundingDistance: 2·Σ (clamped distance)².

    The reference only ever runs the trie on z-normed windows, so it
    doubles every coefficient. For ``norm_mean=False`` indexes the DC
    coefficient occupies slots 0 (real, counted once) and 1 (imag,
    always 0 — skipped), mirroring ``sfa_lower_bound`` — doubling them
    here could exceed true ED and falsely dismiss the nearest neighbor.
    """
    below = np.maximum(lo - dft_q, 0.0)
    above = np.maximum(dft_q - hi, 0.0)
    d = below + above
    if normed:
        return float(2.0 * (d * d).sum())
    return float(d[0] * d[0] + 2.0 * (d[2:] * d[2:]).sum())


def _verify_topk_batched(
    pdf: pd.DataFrame,
    lb: np.ndarray,
    qq: np.ndarray,
    k: int,
    bound: float,
    chunk: int = 2048,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched exact-verify: surviving candidates (LB < bound) are scored
    in LB order as chunked ``((wins - q)**2).sum(axis=1)`` matrix passes —
    one vectorized reduction per chunk instead of a Python loop per
    candidate (the round-3 review's one perf-weak path). Early abandon is
    kept at chunk granularity: once k results are held, a chunk whose
    first (smallest) LB is ≥ the running bound ends the scan, and within
    later chunks candidates are re-filtered against the tightened bound.

    Result: the k smallest (dist, key, offset) tuples among scored
    candidates — identical to the scalar oracle in the tests except when two
    candidates tie EXACTLY on distance at the k-th boundary (the scalar's
    arrival-order strictness vs full tuple order; distances are always
    identical, which is what the no-false-dismissals contract promises)."""
    sel = np.flatnonzero(lb < bound)
    order = sel[np.argsort(lb[sel], kind="stable")]
    wins = pdf["win"].to_numpy()
    keys = pdf["key"].to_numpy()
    offs = pdf["offset"].to_numpy()
    best_d = np.empty(0, dtype=np.float64)
    best_k = np.empty(0, dtype=np.int64)
    best_o = np.empty(0, dtype=np.int64)
    worst = bound
    pos = 0
    while pos < order.size:
        if best_d.size >= k and lb[order[pos]] >= worst:
            break
        c = order[pos : pos + chunk]
        pos += chunk
        if best_d.size >= k:
            c = c[lb[c] < worst]
            if c.size == 0:
                continue
        w_mat = np.stack(wins[c])
        d = ((w_mat - qq) ** 2).sum(axis=1)
        all_d = np.concatenate([best_d, d])
        all_k = np.concatenate([best_k, keys[c].astype(np.int64)])
        all_o = np.concatenate([best_o, offs[c].astype(np.int64)])
        top = np.lexsort((all_o, all_k, all_d))[:k]
        best_d, best_k, best_o = all_d[top], all_k[top], all_o[top]
        if best_d.size >= k:
            worst = float(best_d[-1])
    return best_d, best_k, best_o


def _prep_query(query: np.ndarray, model: SFAModel):
    """znorm + DFT + word for one query vector (driver-side, tiny)."""
    qv = _mft.znorm(np.asarray(query, dtype=np.float64), model.norm_mean)
    dft_q = _mft.transform(
        qv, model.window_size, model.word_length, model.norm_mean, model.lower_bounding
    )
    word_q = quantize(dft_q[None, :], model.bins)[0]
    return qv, dft_q, word_q


def knn_query_index_batch(
    spark: SparkSession,
    root: str,
    queries: np.ndarray,
    k: int = 1,
    query_ids: list[int] | None = None,
) -> tuple[pd.DataFrame, dict]:
    """Exact k-NN for a whole QUERY SET in one seed pass + one verify
    pass — one Spark job each, constant in the number of queries (the
    reference sweeps many queries per run, SFATrieTest.java:57-91,
    query_lightcurves.txt). Both phases are strictly MORE informed than
    one query's alone, so each query's result is what a query set of
    one returns (tested):

    * seed: the union of every query's nearest prefixes is read once;
      each query seeds its bound from ALL rows read (extra prefixes can
      only tighten a bound, never loosen it — still exact);
    * verify: survivors = prefixes some query still needs
      (mbr_lb < that query's bound), read once; inside the kernel each
      row's pruning bound per query is ``max(word_lb, prefix_mbr_lb)``
      — a row's prefix is its word's first ``prefix_len`` symbols, so
      a prefix pruned for one query but read for another is skipped for
      the first by its MBR bound.

    Each task keeps a running top-k per query across its Arrow batches
    — whose k-th distance also bounds the task's later batches — and
    emits it once at its end; the driver merges at most
    tasks × queries × k rows with a sort.

    Returns (pandas DF with columns query_id/key/offset/dist sorted by
    (query_id, dist, key, offset), stats incl. the prefixes read)."""
    tio = TableIO(root)
    m = tio.manifest()
    model = SFAModel.from_dict(m["metrics"]["model"])
    mbrs = m["metrics"]["mbrs"]
    parts = m["partitions"]

    qm = np.atleast_2d(np.asarray(queries, dtype=np.float64))
    if qm.size == 0:
        return (
            pd.DataFrame(
                {
                    "query_id": np.empty(0, dtype=np.int64),
                    "key": np.empty(0, dtype=np.int64),
                    "offset": np.empty(0, dtype=np.int64),
                    "dist": np.empty(0, dtype=np.float64),
                }
            ),
            {"queries": 0, "prefixes_total": len(m["metrics"]["mbrs"]),
             "prefixes_seed": 0, "prefixes_read": 0, "phases": 0},
        )
    qids = list(query_ids) if query_ids is not None else list(range(qm.shape[0]))
    if len(qids) != qm.shape[0]:
        raise ValueError("query_ids length must match the query count")
    prepped = [_prep_query(qm[i], model) for i in range(qm.shape[0])]

    # per-query per-prefix MBR lower bounds — driver-sized (α^prefix_len
    # entries × m queries), like the manifest itself
    lbs = {
        p: np.asarray(
            [
                _mbr_lb(dq, np.asarray(v["lo"]), np.asarray(v["hi"]), model.norm_mean)
                for (_, dq, _w) in prepped
            ]
        )
        for p, v in mbrs.items()
    }

    def read_prefixes(pfx: list[str]) -> DataFrame:
        # one read over every file, so Spark packs them into few tasks
        # (a read per snapshot root split each file on its own); the
        # fixed read schema spares the inference job and holds for both
        # file layouts (c0.. columns, or the older dft array)
        paths = [
            os.path.join(tio.root, path)
            for p in pfx
            for path in parts[p].get("paths") or [parts[p]["path"]]
        ]
        return spark.read.schema(_READ_SCHEMA).parquet(*paths)

    # seed set: union over queries of their nearest prefixes until ≥k
    # windows each
    seed: set[str] = set()
    for qi in range(qm.shape[0]):
        order_q = sorted(lbs, key=lambda p: (lbs[p][qi], p))
        seen = 0
        for p in order_q:
            seed.add(p)
            seen += mbrs[p]["n"]
            if seen >= k:
                break

    model_dict = model.to_dict()
    q_payload = [
        (int(qid), qv.tolist(), dq.tolist(), wq.tolist())
        for qid, (qv, dq, wq) in zip(qids, prepped)
    ]

    def run_phase(df: DataFrame, bounds: dict[int, float]) -> pd.DataFrame:
        prefix_lb = {int(p): v.tolist() for p, v in lbs.items()}
        prefix_len = m["metrics"]["prefix_len"]

        def per_task(batches):
            mm = SFAModel.from_dict(model_dict)
            nq = len(q_payload)
            none = (np.empty(0), np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
            best = [none] * nq
            for pdf in batches:
                if pdf.empty:
                    continue
                words = np.stack(pdf["word"].to_numpy()).astype(np.int64)
                # ONE factorize per batch, then per-query bounds are a
                # fancy-index into a (distinct-prefixes × queries) matrix
                # — a per-row python lambda per query would dominate the
                # vectorized verify at large query sets (self-review r5)
                codes, uniques = pd.factorize(
                    _prefix_of(words, mm.alphabet_size, prefix_len)
                )
                mbr_mat = np.asarray(
                    [prefix_lb.get(u, [0.0] * nq) for u in uniques],
                    dtype=np.float64,
                )  # (u, nq)
                for qi, (qid, qv, dq, wq) in enumerate(q_payload):
                    bd, bk, bo = best[qi]
                    bound = bounds.get(qid, np.inf)
                    if bd.size >= k:
                        # rows tying the running k-th distance stay
                        # candidates: the final order breaks ties by key
                        bound = min(bound, np.nextafter(bd[-1], np.inf))
                    mbr_row = mbr_mat[codes, qi]
                    if (mbr_row >= bound).all():
                        continue  # whole batch pruned for this query
                    lb = sfa_lower_bound(
                        words,
                        np.asarray(wq, dtype=np.int64),
                        np.asarray(dq),
                        mm.bins,
                        mm.norm_mean,
                    )
                    lb = np.maximum(lb, mbr_row)
                    d, ks, os_ = _verify_topk_batched(
                        pdf, lb, np.asarray(qv), k, bound
                    )
                    d, ks, os_ = (np.concatenate(v) for v in ((bd, d), (bk, ks), (bo, os_)))
                    top = np.lexsort((os_, ks, d))[:k]
                    best[qi] = (d[top], ks[top], os_[top])
            out = [
                pd.DataFrame({"query_id": qid, "key": bk, "offset": bo, "dist": bd})
                for (qid, *_), (bd, bk, bo) in zip(q_payload, best)
                if bd.size
            ]
            if out:
                yield pd.concat(out, ignore_index=True)

        return df.mapInPandas(
            per_task, schema="query_id long, key long, offset int, dist double"
        ).toPandas()

    def top_k(res: pd.DataFrame) -> pd.DataFrame:
        return (
            res.sort_values(["query_id", "dist", "key", "offset"])
            .groupby("query_id", group_keys=False)
            .head(k)
            .reset_index(drop=True)
        )

    merged = top_k(run_phase(read_prefixes(sorted(seed)), {}))
    bounds = {
        int(qid): float(g["dist"].iloc[-1]) if len(g) >= k else np.inf
        for qid, g in merged.groupby("query_id")
    }
    for qid in qids:
        bounds.setdefault(int(qid), np.inf)

    survivors = sorted(
        p
        for p in lbs
        if p not in seed
        and any(lbs[p][qi] < bounds[int(qids[qi])] for qi in range(len(qids)))
    )
    stats = {
        "queries": len(qids),
        "prefixes_total": len(lbs),
        "prefixes_seed": len(seed),
        "prefixes_read": len(seed) + len(survivors),
        "phases": 1 if not survivors else 2,
    }
    if survivors:
        rest = run_phase(read_prefixes(survivors), bounds)
        merged = top_k(pd.concat([merged, rest], ignore_index=True))
    return merged, stats


def knn_query_index(
    spark: SparkSession,
    root: str,
    query: np.ndarray,
    k: int = 1,
) -> tuple[pd.DataFrame, dict]:
    """Exact k-NN of ONE query over the persisted index: a query set of
    one through :func:`knn_query_index_batch`.

    Returns (result pandas DF with columns key/offset/dist, stats with
    prefixes_total / prefixes_seed / prefixes_read — the files-read
    evidence that pruning happened)."""
    res, stats = knn_query_index_batch(spark, root, query, k)
    return res.drop(columns="query_id"), stats
