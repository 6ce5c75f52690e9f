"""Seeded input generators. They use numpy and pyarrow only, never the
engine's own generator, so a change to the program cannot change what
a workload feeds it. The same seed always yields the same files.

Each workload's make-up is fixed here (rows, keys, days, late-row
shape); the seed only moves values, timestamps and key choices, so the
amount of work is the same for every seed.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_VOCAB = np.array(
    "time series rollup bucket window tier block word index query signal "
    "value event page crawl carry fill merge scan shuffle table snapshot "
    "day hour minute key late expire refresh encode decode sketch".split()
)


@dataclasses.dataclass(frozen=True)
class IngestShape:
    keys: int = 16
    days: int = 5
    rows_per_day: int = 1200
    late_keys: int = 3
    late_rows_per_key: int = 8
    late_day: int = 2  # a closed day: later days exist before the late rows land
    keep_days: int = 3  # retention window: days 0..days-keep_days-1 expire
    start: str = "2024-01-01"


@dataclasses.dataclass(frozen=True)
class EventsShape:
    keys: int = 20
    days: int = 30
    rows: int = 2000
    start: str = "2024-01-01"


@dataclasses.dataclass(frozen=True)
class PagesShape:
    urls: int = 24
    days: int = 6
    crawl_every_min: float = 40.0  # mean spacing; jittered per crawl
    words_per_page: tuple[int, int] = (40, 90)
    start: str = "2024-03-01"


def shape(kind: str, scale: str):
    """The input shape of one kind ("ingest", "events", "pages") at the
    benchmark's scale ("full") or the self-test's ("tiny", about the
    registry's sf0.001 size)."""
    full = {"ingest": IngestShape(), "events": EventsShape(), "pages": PagesShape()}
    tiny = {
        "ingest": IngestShape(keys=4, days=4, rows_per_day=250, late_keys=2, late_rows_per_key=4, keep_days=2),
        "events": EventsShape(keys=15, rows=1000),
        "pages": PagesShape(urls=4, days=2),
    }
    return (full if scale == "full" else tiny)[kind]


def _write(df: pd.DataFrame, path: str, row_groups: int) -> str:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(
        table, path, row_group_size=max(1, -(-len(df) // row_groups))
    )
    return path


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # two decimals, like metered readings: sums stay exact to 6 dp
    return np.round(rng.gamma(2.0, 25.0, n) + 0.01, 2)


def _events_frame(
    rng: np.random.Generator, ts_us: np.ndarray, users: np.ndarray, first_id: int
) -> pd.DataFrame:
    n = ts_us.size
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts_us.astype("datetime64[us]"),
            "user_id": users.astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, EVENT_TYPES.size, n)],
            "value": _values(rng, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _start_us(start: str) -> int:
    return int(np.datetime64(start, "us").astype(np.int64))


@dataclasses.dataclass(frozen=True)
class IngestInputs:
    base: str
    late: str
    shape: IngestShape

    def day(self, i: int) -> str:
        return str(np.datetime64(self.shape.start, "D") + i)


def make_ingest(out_dir: str, seed: int, shape: IngestShape = IngestShape()) -> IngestInputs:
    """Base events over ``days`` days and a small late batch that lands
    in the closed day ``late_day`` for ``late_keys`` keys."""
    rng = np.random.default_rng([seed, 1])
    t0 = _start_us(shape.start)
    n = shape.days * shape.rows_per_day
    day_of = np.repeat(np.arange(shape.days), shape.rows_per_day)
    ts = np.sort(t0 + day_of * DAY_US + rng.integers(0, DAY_US, n))
    base = _events_frame(rng, ts, rng.integers(0, shape.keys, n), 0)

    late_users = rng.choice(shape.keys, shape.late_keys, replace=False)
    m = shape.late_keys * shape.late_rows_per_key
    late_ts = np.sort(
        t0 + shape.late_day * DAY_US + rng.integers(0, DAY_US, m)
    )
    late = _events_frame(
        rng, late_ts, np.repeat(late_users, shape.late_rows_per_key), n
    )
    os.makedirs(out_dir, exist_ok=True)
    return IngestInputs(
        base=_write(base, os.path.join(out_dir, "base.parquet"), row_groups=4),
        late=_write(late, os.path.join(out_dir, "late.parquet"), row_groups=1),
        shape=shape,
    )


def make_events(out_dir: str, seed: int, shape: EventsShape = EventsShape()) -> str:
    """An ``events.parquet`` with the registry's events schema, in a
    directory the registry queries read as their ``sf_dir``."""
    rng = np.random.default_rng([seed, 2])
    t0 = _start_us(shape.start)
    ts = np.sort(t0 + rng.integers(0, shape.days * DAY_US, shape.rows))
    # uneven key popularity, every key well above the LTTB target (32)
    weights = 1.0 / np.arange(1, shape.keys + 1) ** 0.25
    users = rng.choice(shape.keys, shape.rows, p=weights / weights.sum())
    os.makedirs(out_dir, exist_ok=True)
    _write(
        _events_frame(rng, ts, users, 0),
        os.path.join(out_dir, "events.parquet"),
        row_groups=4,
    )
    return out_dir


def make_pages(out_dir: str, seed: int, shape: PagesShape = PagesShape()) -> str:
    """A crawl table (url, warc_ts, html, text, lang): every url is
    crawled through the whole span at jittered ~``crawl_every_min``
    spacing, so each hourly series covers every hour of the span."""
    rng = np.random.default_rng([seed, 3])
    t0 = _start_us(shape.start)
    span_us = shape.days * DAY_US
    step_us = shape.crawl_every_min * 60e6
    frames = []
    langs = np.array(["en", "de", "fr", "es", "it"])
    for u in range(shape.urls):
        n = int(span_us // step_us)
        ts = t0 + (np.arange(n) * step_us + rng.uniform(0, step_us, n)).astype(np.int64)
        url = f"https://site{u % 7}.example.org/article/{u}"
        lens = rng.integers(*shape.words_per_page, n)
        texts = [" ".join(_VOCAB[rng.integers(0, _VOCAB.size, k)]) for k in lens]
        base_lang = langs[u % langs.size]
        lang = np.where(rng.random(n) < 0.15, langs[rng.integers(0, langs.size, n)], base_lang)
        frames.append(
            pd.DataFrame(
                {
                    "url": url,
                    "warc_ts": ts.astype("datetime64[us]"),
                    "html": [
                        (
                            f"<html><head><title>{url}</title></head><body>"
                            f"<nav>menu</nav><article>{t}</article></body></html>"
                        ).encode()
                        for t in texts
                    ],
                    "text": texts,
                    "lang": lang,
                }
            )
        )
    os.makedirs(out_dir, exist_ok=True)
    return _write(
        pd.concat(frames, ignore_index=True),
        os.path.join(out_dir, "pages.parquet"),
        row_groups=4,
    )
