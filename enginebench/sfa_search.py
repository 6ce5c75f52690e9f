"""Workload ``sfa_search``: the analytics path of the paper. One round:
  1. ``pipeline.run_pipeline`` over the crawl table (extract -> signals ->
     tiers -> LOCF -> encode), with the filled 1h tier and the encoded
     blocks forced;
  2. ``pipeline.sfa_downsample_words`` (distributed MCB fit + MFT
     transform) over the filled 1h tier;
  3. ``operators.word_index.build_word_index`` over the same series;
  4. ``knn_query_index_batch`` for a seeded query set.

Independent computations: DuckDB derives the filled 1h series from the
raw crawl table; numpy computes every window's distance to every query
(brute force) and re-derives the words of a sample of series with a
per-window FFT instead of the MFT recurrence.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

from enginebench import checks
from enginebench.harness import Run, expect
from enginebench.inputs import make_pages, shape

WINDOW, WORD, ALPHABET = 16, 4, 4  # sfa_downsample_words' defaults
K, QUERIES, SAMPLE_SERIES = 5, 8, 8

FILLED_1H = """
WITH sig AS (
  SELECT url, warc_ts, CAST(length(text) AS DOUBLE) AS text_len,
         CASE WHEN lag(lang) OVER w IS NULL OR lag(lang) OVER w = lang
              THEN 1.0 ELSE 0.0 END AS lang_stability
  FROM pages WINDOW w AS (PARTITION BY url ORDER BY warc_ts)
), long AS (
  SELECT url, warc_ts, 'text_len' AS signal, text_len AS value FROM sig
  UNION ALL
  SELECT url, warc_ts, 'lang_stability', lang_stability FROM sig
), agg AS (
  SELECT url, signal, date_trunc('hour', warc_ts) AS bucket_ts,
         arg_max(value, warc_ts) AS lastv
  FROM long GROUP BY 1, 2, 3
), span AS (
  SELECT url, signal, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg GROUP BY 1, 2
), spine AS (
  SELECT url, signal, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts FROM span
)
SELECT s.url, s.signal, s.bucket_ts,
       last_value(a.lastv IGNORE NULLS) OVER (
         PARTITION BY s.url, s.signal ORDER BY s.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last
FROM spine s LEFT JOIN agg a USING (url, signal, bucket_ts)
"""


def znorm_windows(x: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All length-WINDOW windows of ``x``: raw, mean and population sigma."""
    wins = np.lib.stride_tricks.sliding_window_view(x, WINDOW)
    return wins, wins.mean(axis=1), wins.std(axis=1)


def dft_words(x: np.ndarray, bins: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-window FFT words (the SFA definition, not the MFT recurrence):
    coefficients 1..WORD/2 of each window, real and imaginary parts,
    scaled by 1/(sqrt(w)*sigma) with alternating signs, quantized on
    ``bins``. Returns (words, coefficients, near-edge mask)."""
    wins, _, sd = znorm_windows(x)
    c = np.fft.rfft(wins, axis=1)[:, 1 : WORD // 2 + 1]
    coef = np.empty((wins.shape[0], WORD))
    coef[:, 0::2], coef[:, 1::2] = c.real, c.imag
    scale = 1.0 / np.sqrt(WINDOW) / np.where(sd > 0, sd, 1.0)
    coef *= scale[:, None] * np.where(np.arange(WORD) % 2, -1.0, 1.0)
    words = np.stack([np.searchsorted(bins[i], coef[:, i], side="right") for i in range(WORD)], axis=1)
    edge = np.stack(
        [np.isclose(coef[:, i][:, None], bins[i][None, :], rtol=1e-9, atol=1e-9).any(axis=1) for i in range(WORD)],
        axis=1,
    )
    return words, coef, edge


def series_frame(filled):
    """(series_id, t, value) of a filled tier, as sfa_downsample_words
    builds its series."""
    from pyspark.sql import functions as F

    return filled.select(
        F.xxhash64("url", "signal").alias("series_id"),
        F.unix_micros("bucket_ts").alias("t"),
        F.col("last").alias("value"),
    )


def unpack(word: np.ndarray, bits: int) -> np.ndarray:
    word = np.asarray(word, dtype=np.int64)
    return np.stack([(word >> (i * bits)) & ((1 << bits) - 1) for i in range(WORD)], axis=1)


class SfaSearch:
    name = "sfa_search"

    def prepare(self, run: Run) -> None:
        """Pages, DuckDB's filled series, the query set and its brute-force
        neighbours (no Spark)."""
        self.pages_path = make_pages(os.path.join(run.work, "inputs", "pages"), run.seed, shape("pages", run.scale))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW pages AS SELECT * FROM read_parquet('{self.pages_path}')")
        self.filled = con.execute(FILLED_1H).df()
        con.close()
        self.filled = self.filled.sort_values(["url", "signal", "bucket_ts"]).reset_index(drop=True)
        self.series = {k: g["last"].to_numpy() for k, g in self.filled.groupby(["url", "signal"])}

        rng = np.random.default_rng([run.seed, 4])
        # text_len series change most hours; lang_stability windows are
        # mostly constant, where sigma = 0 and every coefficient is noise
        text_keys = [k for k in sorted(self.series) if k[1] == "text_len"]
        picks = rng.choice(len(text_keys), min(SAMPLE_SERIES, len(text_keys)), replace=False)
        self.sample = [text_keys[i] for i in picks]
        self.queries = np.stack(
            [
                self.series[k][o : o + WINDOW] + rng.normal(0, 2.0, WINDOW)
                for k, o in (
                    (text_keys[i], int(rng.integers(0, len(self.series[text_keys[i]]) - WINDOW)))
                    for i in rng.integers(0, len(text_keys), QUERIES)
                )
            ]
        )
        self.brute = self.brute_force()

    def setup(self, run: Run) -> None:
        """The SFA model the index is built with, fit once on the filled
        series, and the series ids the index returns."""
        from pyspark.sql import functions as F

        from sfa_spark.transform.sfa_df import fit_windowing_df

        sdf = run.spark.createDataFrame(self.filled)
        with run.checking():
            self.model = fit_windowing_df(
                series_frame(sdf), "series_id", "t", "value", WINDOW, WORD, ALPHABET, norm_mean=True
            )
            ids = sdf.select("url", "signal", F.xxhash64("url", "signal").alias("sid")).distinct().collect()
        self.key_of = {r["sid"]: (r["url"], r["signal"]) for r in ids}

    def brute_force(self) -> dict[int, np.ndarray]:
        """Squared Euclidean distance of every z-normed window to every
        z-normed query; the k smallest per query."""
        allw = []
        for x in self.series.values():
            wins, mu, sd = znorm_windows(x)
            allw.append((wins - mu[:, None]) / np.where(sd > 0, sd, 1.0)[:, None])
        allw = np.concatenate(allw)
        out = {}
        for qi, q in enumerate(self.queries):
            sd = q.std()
            qn = (q - q.mean()) / (sd if sd > 0 else 1.0)
            out[qi] = np.sort(((allw - qn) ** 2).sum(axis=1))[:K]
        return out

    # -- the operations ----------------------------------------------------------
    def pipeline(self, run: Run):
        from sfa_spark.pipeline import run_pipeline

        res = run_pipeline(run.spark, run.spark.read.parquet(self.pages_path))
        filled = res.filled["1h"].persist()
        n = filled.count()
        # collect_metrics (the default) has already forced every encoded tier
        return filled, n, sum(m["blocks"] for m in res.metrics.values())

    def words(self, run: Run, filled):
        from sfa_spark.pipeline import sfa_downsample_words

        return sfa_downsample_words(run.spark, filled, WINDOW, WORD, ALPHABET).toPandas()

    def build_index(self, run: Run, filled, root: str) -> dict:
        from sfa_spark.operators.word_index import build_word_index

        return build_word_index(series_frame(filled), self.model, root, prefix_len=2)

    def knn(self, run: Run, root: str) -> pd.DataFrame:
        from sfa_spark.operators.word_index import knn_query_index_batch

        res, _ = knn_query_index_batch(run.spark, root, self.queries, k=K)
        return res

    # -- the checks -------------------------------------------------------------------
    def check_filled(self, filled) -> None:
        got = filled.select("url", "signal", "bucket_ts", "last").toPandas()
        checks.same_rows(got, self.filled, "filled 1h tier")

    def check_words(self, words: pd.DataFrame) -> None:
        bits = int(np.log2(ALPHABET))
        counts = words.groupby(["url", "signal"]).size().to_dict()
        checks.word_counts(counts, {k: len(x) for k, x in self.series.items()}, WINDOW)
        symbols = unpack(words["word"].to_numpy(), bits)
        checks.symbols_in_alphabet(symbols, ALPHABET)
        by_key = {k: g.sort_values("offset") for k, g in words.groupby(["url", "signal"])}
        got, want, edge = [], [], []
        for k in self.sample:
            w, _, e = dft_words(self.series[k], self.model.bins)
            got.append(unpack(by_key[k]["word"].to_numpy(), bits))
            want.append(w)
            edge.append(e)
        checks.words_match(np.concatenate(got), np.concatenate(want), np.concatenate(edge))
        self.word_table = {k: unpack(g["word"].to_numpy(), bits) for k, g in by_key.items()}

    def check_knn(self, res: pd.DataFrame) -> None:
        from sfa_spark.operators.distances import sfa_lower_bound

        checks.knn_distances(res, self.brute, K)
        lbs, dists = [], []
        for qi, q in enumerate(self.queries):
            qw, qc, _ = dft_words(q, self.model.bins)
            rows = res[res["query_id"] == qi]
            cand = np.stack([self.word_table[self.key_of[r.key]][r.offset] for r in rows.itertuples()])
            lbs.append(sfa_lower_bound(cand, qw[0], qc[0], self.model.bins, True))
            dists.append(rows["dist"].to_numpy())
        checks.lower_bounds(np.concatenate(lbs), np.concatenate(dists))

    def round(self, run: Run, i: int) -> list:
        root = os.path.join(run.work, f"index-round-{i}")
        ops = []
        op, (filled, n, blocks) = run.timed("pipeline", self.pipeline, run)
        ops.append(op)
        with run.checking():
            expect(n == len(self.filled) and blocks > 0, f"pipeline: {n} filled rows, {blocks} blocks")
            self.check_filled(filled)
        op, words = run.timed("words", self.words, run, filled)
        ops.append(op)
        with run.checking():
            self.check_words(words)
        if i == 0:
            run.extra["words"] = len(words)
            run.extra["words_per_s"] = len(words) / op.seconds
        op, _ = run.timed("index_build", self.build_index, run, filled, root)
        ops.append(op)
        op, res = run.timed("knn_batch", self.knn, run, root)
        ops.append(op)
        with run.checking():
            self.check_knn(res)
        self.cleanup(run, root)
        return ops

    @staticmethod
    def cleanup(run: Run, root: str) -> None:
        """Drop every cached frame (sfa_downsample_words leaves its
        repartitioned series cached) so every round starts alike."""
        run.spark.catalog.clearCache()
        shutil.rmtree(root)
