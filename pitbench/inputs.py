"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed and the workload sizes, and
runs before any timed region. The engine only ever sees the files and
request bodies produced here; the correctness gate recomputes its answers
from the same objects.
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: first instant of every feature timeline (naive UTC, like the engine)
T0 = pd.Timestamp("2024-01-01")
DAY_S = 86_400


def key_names(n: int, prefix: str = "k") -> np.ndarray:
    return np.array([f"https://{prefix}{i}.example/" for i in range(n)], dtype=object)


def _stamp(seconds: np.ndarray) -> pd.Series:
    return pd.Series(T0 + pd.to_timedelta(seconds, unit="s")).astype("datetime64[us]")


def feature_rows(
    rng: np.random.Generator,
    keys: np.ndarray,
    n_rows: int,
    lo_s: int,
    hi_s: int,
    *,
    null_share: float = 0.05,
) -> pd.DataFrame:
    """``n_rows`` feature events over ``keys`` with event times in
    ``[lo_s, hi_s)`` seconds after T0. (url, warc_ts) is unique, so the
    latest row per key and every as-of match are unambiguous."""
    idx = rng.integers(0, len(keys), n_rows)
    secs = rng.integers(lo_s, hi_s, n_rows)
    f_float = np.round(rng.random(n_rows) * 100.0, 6)
    df = pd.DataFrame(
        {
            "url": keys[idx],
            "warc_ts": _stamp(secs),
            "f_int": rng.integers(0, 1_000_000, n_rows).astype("int64"),
            "f_float": pd.Series(f_float).where(rng.random(n_rows) >= null_share),
        }
    )
    return df.drop_duplicates(["url", "warc_ts"]).reset_index(drop=True)


def probe_rows(
    rng: np.random.Generator,
    keys: np.ndarray,
    n: int,
    lo_s: int,
    hi_s: int,
    *,
    miss_share: float = 0.05,
) -> pd.DataFrame:
    """Entity rows for a training set: known keys (some probed before
    their first event) plus a share of never-seen keys."""
    url = keys[rng.integers(0, len(keys), n)].copy()
    miss = rng.random(n) < miss_share
    url[miss] = [f"https://unseen{i}.example/" for i in rng.integers(0, 10**9, int(miss.sum()))]
    return pd.DataFrame({"url": url, "ts": _stamp(rng.integers(lo_s, hi_s, n))})


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def embeddings(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    return np.round(rng.standard_normal((n, dim)), 6)


def vector_frame(keys: np.ndarray, vecs: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "url": keys,
            "warc_ts": _stamp(np.zeros(len(keys), dtype=np.int64)),
            "emb": [v.tolist() for v in vecs],
        }
    )
