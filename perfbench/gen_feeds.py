"""Seeded raw feeds for the elt_load workload.

Why this workload exists: it is the only one that writes. It drives the
sources, pipelines, plans, warehouse and checks modules, which the query
workloads never touch, and it shows when a read-side gain costs writes.

For ``n_tickers`` seeded tickers the generator lays out the four raw
feeds the ELT graph reads, in the formats the reference pipeline lands:

* ``kaggle/<ticker>.us.txt``: Kaggle-style CSV with a header, some
  comma-grouped quoted volumes and a few rows whose date does not parse
  (those rows must be quarantined);
* ``api/<TICKER>.csv``: API CSV with no header, 4 metadata rows first,
  and dates that overlap the end of the Kaggle range (the API row wins);
* ``info/<TICKER>.json``: company info with some keys missing;
* ``esg/<TICKER>.json``: nested ESG scores with some keys missing.

``Feeds`` also carries what a correct load must produce: the distinct
(Ticker, Date) keys of the valid rows and the number of quarantined rows.
Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import string
from dataclasses import dataclass, field

import numpy as np

BAD_DATES = ["not-a-date", "2016/03/01", "31-12-2016", "2016-13-40"]
SECTORS = ["Technology", "Energy", "Healthcare", "Utilities", "Financial Services"]
KAGGLE_START = dt.date(2015, 1, 1)
KAGGLE_END = dt.date(2017, 12, 29)
API_START = dt.date(2017, 11, 1)
API_END = dt.date(2018, 3, 30)


@dataclass
class Feeds:
    root: str
    tickers: list[str]
    keys: set[tuple[str, dt.date]] = field(default_factory=set)
    quarantined: int = 0
    raw_rows: int = 0
    refresh_start: dt.date = API_END
    refresh_days: int = 0

    def glob(self, feed: str) -> str:
        pattern = {"kaggle": "*.us.txt", "api": "*.csv", "info": "*.json", "esg": "*.json"}
        return os.path.join(self.root, feed, pattern[feed])

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.root)
            for f in files
        )


def _weekdays(lo: dt.date, hi: dt.date) -> list[dt.date]:
    n = (hi - lo).days + 1
    days = (lo + dt.timedelta(days=i) for i in range(n))
    return [d for d in days if d.weekday() < 5]


def refresh_keys(feeds: Feeds) -> set[tuple[str, dt.date]]:
    """(Ticker, Date) keys the refresh window upserts: the market API
    source emits one row per ticker per weekday of the window."""
    end = feeds.refresh_start + dt.timedelta(days=feeds.refresh_days - 1)
    return {(t, d) for t in feeds.tickers for d in _weekdays(feeds.refresh_start, end)}


def _tickers(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list(string.ascii_uppercase))
    out: list[str] = []
    while len(out) < n:
        t = "".join(rng.choice(letters, int(rng.integers(3, 5))))
        if t not in out:
            out.append(t)
    return out


def _volume(rng: np.random.Generator) -> str:
    v = int(rng.integers(100_000, 50_000_000))
    return f'"{v:,}"' if rng.random() < 0.3 else str(v)


def _ohlc(rng: np.random.Generator, price: float) -> tuple[float, float, float, float]:
    o = price
    c = round(price * (1 + rng.normal(0, 0.02)), 4)
    hi = round(max(o, c) * (1 + abs(rng.normal(0, 0.01))), 4)
    lo = round(min(o, c) * (1 - abs(rng.normal(0, 0.01))), 4)
    return round(o, 4), hi, lo, c


def generate(root: str, seed: int, n_tickers: int) -> Feeds:
    rng = np.random.default_rng([seed, 11])
    feeds = Feeds(root=root, tickers=_tickers(rng, n_tickers))
    for d in ("kaggle", "api", "info", "esg"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    kaggle_days = _weekdays(KAGGLE_START, KAGGLE_END)
    api_days = _weekdays(API_START, API_END)
    for t in feeds.tickers:
        price = float(rng.uniform(20, 400))
        lines = ["Date,Open,High,Low,Close,Volume,OpenInt"]
        for d in kaggle_days:
            o, hi, lo, c = _ohlc(rng, price)
            price = c
            lines.append(f"{d.isoformat()},{o},{hi},{lo},{c},{_volume(rng)},0")
            feeds.keys.add((t, d))
            if rng.random() < 0.01:
                bad = BAD_DATES[int(rng.integers(0, len(BAD_DATES)))]
                lines.append(f"{bad},{o},{hi},{lo},{c},{_volume(rng)},0")
                feeds.quarantined += 1
        with open(os.path.join(root, "kaggle", f"{t.lower()}.us.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        feeds.raw_rows += len(lines) - 1

        lines = [
            "Price,AdjClose,Close,High,Low,Open,Volume",
            ",".join(["Ticker"] + [t] * 6),
            "Date,,,,,,",
            ",,,,,,",
        ]
        for d in api_days:
            o, hi, lo, c = _ohlc(rng, price)
            price = c
            lines.append(f"{d.isoformat()},{c},{c},{hi},{lo},{o},{_volume(rng)}")
            feeds.keys.add((t, d))
        with open(os.path.join(root, "api", f"{t}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        feeds.raw_rows += len(lines) - 4

        info = {
            "symbol": t,
            "shortName": f"{t} Corp",
            "industry": f"Industry {int(rng.integers(0, 12))}",
            "sector": SECTORS[int(rng.integers(0, len(SECTORS)))],
            "fullTimeEmployees": int(rng.integers(100, 200_000)),
            "totalRevenue": float(rng.integers(1, 10_000)) * 1e6,
            "address1": f"{int(rng.integers(1, 999))} Main St",
            "city": "Springfield",
            "state": "CA",
            "zip": f"{int(rng.integers(10000, 99999))}",
            "website": f"https://www.{t.lower()}.example",
        }
        for k in ("industry", "address1", "zip", "website", "totalRevenue"):
            if rng.random() < 0.3:
                del info[k]
        with open(os.path.join(root, "info", f"{t}.json"), "w") as f:
            json.dump(info, f)

        scores = {
            "totalEsg": round(float(rng.uniform(5, 45)), 2),
            "environmentScore": round(float(rng.uniform(0, 15)), 2),
            "socialScore": round(float(rng.uniform(0, 15)), 2),
            "governanceScore": round(float(rng.uniform(0, 15)), 2),
            "ratingYear": 2024,
            "ratingMonth": int(rng.integers(1, 13)),
            "maxAge": 86400,
            "peerCount": int(rng.integers(10, 200)),
            "esgPerformance": "AVG_PERF",
            "peerGroup": SECTORS[int(rng.integers(0, len(SECTORS)))],
            "peerEsgScorePerformance": {"min": 5.0, "avg": 20.0, "max": 40.0},
        }
        for k in ("environmentScore", "socialScore", "peerGroup", "peerEsgScorePerformance"):
            if rng.random() < 0.3:
                del scores[k]
        with open(os.path.join(root, "esg", f"{t}.json"), "w") as f:
            json.dump({"esgScores": scores}, f)

    # the refresh window starts inside the API range, so it both replaces
    # loaded rows and appends new dates
    feeds.refresh_start = API_END - dt.timedelta(days=int(rng.integers(10, 40)))
    feeds.refresh_days = int(rng.integers(30, 60))
    return feeds
