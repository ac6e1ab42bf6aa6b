"""Correctness gate: every answer is recomputed here from the generated
inputs with DuckDB or numpy, never with engine code.

Each ``check_*`` returns a list of human-readable mismatches; an empty
list is a pass. ``self_test`` feeds every check a deliberately corrupted
copy of an output it just accepted and requires the check to reject it,
so a check that has gone blind fails the run instead of passing it.
"""
from __future__ import annotations

import copy
import math
from collections.abc import Callable

import duckdb
import numpy as np
import pandas as pd

_MAX_REPORTED = 5


def to_us(s: pd.Series) -> pd.Series:
    """Timestamps (naive UTC or tz-aware) as int64 microseconds."""
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return None if np.isnan(v) else float(v)
    return v


def _canon(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Rows in a canonical order and dtype: numbers as float64 (every
    value here, microsecond timestamps included, is exact in a double),
    missing values as NaN, everything else as object."""
    out = df[cols].copy()
    for c in cols:
        if pd.api.types.is_numeric_dtype(out[c]) or pd.api.types.is_bool_dtype(out[c]):
            out[c] = pd.to_numeric(out[c], errors="coerce").astype("float64")
        elif out[c].map(lambda v: v is None or isinstance(v, (int, float))).all():
            out[c] = pd.to_numeric(out[c], errors="coerce").astype("float64")
        else:
            out[c] = out[c].astype(object)
    return out.sort_values(cols, na_position="last").reset_index(drop=True)


def _diff(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    g, w = _canon(got, cols), _canon(want, cols)
    if len(g) == len(w) and g.equals(w):
        return []
    errs = [f"{what}: {len(g)} rows, expected {len(w)}"]
    both = g.merge(w, how="outer", on=cols, indicator=True)
    for side, label in (("left_only", "unexpected"), ("right_only", "missing")):
        rows = both[both["_merge"] == side].head(_MAX_REPORTED)
        errs += [f"{what}: {label} {tuple(r)}" for r in rows[cols].itertuples(index=False)]
    return errs


def latest_per_key(events: pd.DataFrame, key: str, ts: str) -> pd.DataFrame:
    """Latest event per key (event times are unique per key by
    construction of the inputs, so no tie-break is needed)."""
    con = duckdb.connect()
    con.register("events", events)
    return con.execute(
        f"SELECT * FROM events QUALIFY row_number() OVER "
        f"(PARTITION BY {key} ORDER BY {ts} DESC) = 1"
    ).df()


def read_store(dest: str) -> pd.DataFrame:
    """Every row of a serving store, read straight from its parquet files
    (timestamps as int64 microseconds)."""
    con = duckdb.connect()
    df = con.execute(
        f"SELECT * FROM read_parquet('{dest}/data/bucket=*/*.parquet')"
    ).df()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = to_us(df[c])
    return df


def expected_ingest(pages: pd.DataFrame) -> pd.DataFrame:
    """The ingest store's answer: the latest page per url, with the text
    features recomputed from the generated ``text`` column."""
    pages = pages[["url", "warc_ts", "text"]].copy()
    pages["warc_ts"] = to_us(pages["warc_ts"])
    latest = latest_per_key(pages, "url", "warc_ts")
    latest["q_n_chars"] = latest["text"].map(len).astype("int64")
    latest["q_n_tokens"] = latest["text"].map(lambda t: len(t.split())).astype("int64")
    return latest.drop(columns=["text"])


def check_store(store: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    missing = [c for c in cols if c not in store.columns]
    if missing:
        return [f"{what}: store lacks columns {missing}"]
    return _diff(store, want, cols, what)


def asof_oracle(
    probes: pd.DataFrame, events: pd.DataFrame, ttl_s: int, feature_cols: list[str]
) -> pd.DataFrame:
    """DuckDB ASOF LEFT JOIN: the latest event at or before each probe,
    dropped when older than the ttl. Timestamps are int64 microseconds."""
    con = duckdb.connect()
    con.register("p", probes)
    con.register("e", events)
    feats = ", ".join(
        f"CASE WHEN p.ts - e.warc_ts <= {ttl_s * 1_000_000} THEN e.{c} END AS {c}"
        for c in feature_cols
    )
    return con.execute(
        f"SELECT p.url, p.ts, {feats} FROM p ASOF LEFT JOIN e "
        "ON p.url = e.url AND p.ts >= e.warc_ts"
    ).df()


def check_training_set(
    got: pd.DataFrame, probes: pd.DataFrame, events: pd.DataFrame, ttl_s: int,
    feature_cols: list[str], what: str,
) -> list[str]:
    cols = ["url", "ts", *feature_cols]
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"{what}: result lacks columns {missing}"]
    want = asof_oracle(probes, events, ttl_s, feature_cols)
    return _diff(got, want, cols, what)


class OnlineState:
    """What the serving store must hold: the latest row per key of the
    materialized input, advanced by every push in request order."""

    def __init__(self, latest: pd.DataFrame, feature_cols: list[str]) -> None:
        self.feature_cols = feature_cols
        self.rows = {
            r["url"]: (r["warc_ts"], {c: _norm(r[c]) for c in feature_cols})
            for r in latest.to_dict("records")
        }

    def push(self, df_cols: dict) -> None:
        ts = to_us(pd.Series(pd.to_datetime(df_cols["warc_ts"])))
        for i, key in enumerate(df_cols["url"]):
            old = self.rows.get(key)
            if old is None or ts.iloc[i] >= old[0]:
                self.rows[key] = (ts.iloc[i], {c: df_cols[c][i] for c in self.feature_cols})

    def snapshot(self) -> "OnlineState":
        copy = OnlineState.__new__(OnlineState)
        copy.feature_cols, copy.rows = self.feature_cols, dict(self.rows)
        return copy

    def expected_get(self, keys: list[str], feats: list[str]) -> dict:
        out = {}
        for f in feats:
            values, statuses = [], []
            for k in keys:
                row = self.rows.get(k)
                if row is None:
                    values.append(None)
                    statuses.append("NOT_FOUND")
                else:
                    v = row[1][f]
                    values.append(v)
                    statuses.append("PRESENT" if v is not None else "NULL_VALUE")
            out[f] = (values, statuses)
        return out


def check_get(response: dict, keys: list[str], feats: list[str], state: OnlineState, what: str) -> list[str]:
    names = response.get("metadata", {}).get("feature_names")
    if names != ["url", *feats]:
        return [f"{what}: feature_names {names}"]
    errs = []
    want = state.expected_get(keys, feats)
    for f, col in zip(feats, response["results"][1:]):
        values = [_norm(v) for v in col["values"]]
        if (values, col["statuses"]) != (want[f][0], want[f][1]):
            errs.append(f"{what}: {f} values/statuses {values}/{col['statuses']} != {want[f]}")
    return errs


def check_docs(
    rows: list[dict], query: list[float], vecs: dict, top_k: int, what: str
) -> list[str]:
    """Returned distances equal the numpy cosine of the query and each
    returned document, in descending order, for at most top_k distinct
    known documents."""
    if not rows:
        return [f"{what}: no documents returned"]
    errs = []
    keys = [r.get("url") for r in rows]
    if len(rows) > top_k or len(set(keys)) != len(keys):
        errs.append(f"{what}: {len(rows)} rows / duplicate keys for top_k={top_k}")
    q = np.asarray(query, dtype=np.float64)
    dists = []
    for r in rows:
        v = vecs.get(r.get("url"))
        if v is None:
            errs.append(f"{what}: unknown document {r.get('url')!r}")
            continue
        want = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        got = r.get("distance")
        if got is None or abs(got - want) > 1e-9:
            errs.append(f"{what}: {r.get('url')} distance {got} != cosine {want}")
        dists.append(got if got is not None else -2.0)
    if any(a < b for a, b in zip(dists, dists[1:])):
        errs.append(f"{what}: distances not in descending order {dists}")
    return errs


# -- self-test ---------------------------------------------------------


def _corrupt_frame(df: pd.DataFrame, col: str) -> pd.DataFrame:
    """Change one value of ``col`` in the first row that has one."""
    bad = df.copy()
    idx = bad[col].first_valid_index()
    if idx is None:
        bad = bad.iloc[1:]  # nothing to alter: drop a row instead
    elif pd.api.types.is_numeric_dtype(bad[col]):
        bad.loc[idx, col] = bad.loc[idx, col] + 1
    else:
        bad.loc[idx, col] = str(bad.loc[idx, col]) + "#"
    return bad


def self_test(cases: list[tuple[str, Callable, Callable]]) -> list[str]:
    """``cases`` holds (name, check, corrupted_check): ``check()`` must
    pass on the real output and ``corrupted_check()`` must fail on a
    corrupted copy. Returns the names of checks that did not reject the
    corruption."""
    blind = []
    for name, good, bad in cases:
        if good():
            blind.append(f"{name}: rejected the real output")
        elif not bad():
            blind.append(f"{name}: accepted a corrupted output")
    return blind


def corrupt_store_case(name, store, want, cols, value_col):
    return (
        name,
        lambda: check_store(store, want, cols, name),
        lambda: check_store(_corrupt_frame(store, value_col), want, cols, name),
    )


def _leak_future_event(got: pd.DataFrame, events: pd.DataFrame, feature_cols: list[str]) -> pd.DataFrame:
    """Give one probe the features of its key's first event AFTER the
    probe time: the leak a point-in-time join must never make."""
    con = duckdb.connect()
    con.register("g", got)
    con.register("e", events)
    leak = con.execute(
        "SELECT g.url, g.ts, "
        + ", ".join(f"e.{c} AS {c}" for c in feature_cols)
        + " FROM (SELECT *, row_number() OVER () AS pos FROM g) g"
        " JOIN e ON g.url = e.url AND e.warc_ts > g.ts"
        " QUALIFY row_number() OVER (PARTITION BY g.pos ORDER BY e.warc_ts) = 1 LIMIT 1"
    ).df()
    if leak.empty:
        return _corrupt_frame(got, feature_cols[0])
    bad = got.reset_index(drop=True).copy()
    row = bad.index[(bad["url"] == leak.at[0, "url"]) & (bad["ts"] == leak.at[0, "ts"])][0]
    for c in feature_cols:
        bad.loc[row, c] = leak.at[0, c]
    return bad


def corrupt_training_case(name, got, probes, events, ttl_s, feature_cols):
    # the oracle is computed once: the DuckDB join over the large probe
    # set is the costly part of every comparison
    cols = ["url", "ts", *feature_cols]
    want = asof_oracle(probes, events, ttl_s, feature_cols)

    def bad():
        # a leaked future value and a lost probe row must both be caught
        return _diff(_leak_future_event(got, events, feature_cols), want, cols, name) and _diff(
            got.iloc[1:], want, cols, name
        )

    return name, lambda: _diff(got, want, cols, name), bad


def corrupt_get_case(name, response, keys, feats, state):
    bad = copy.deepcopy(response)
    col = bad["results"][1]
    i = next((j for j, s in enumerate(col["statuses"]) if s == "PRESENT"), 0)
    col["values"][i] = (col["values"][i] or 0) + 1
    return (
        name,
        lambda: check_get(response, keys, feats, state, name),
        lambda: check_get(bad, keys, feats, state, name),
    )


def corrupt_docs_case(name, rows, query, vecs, top_k):
    bad = [dict(r) for r in rows]
    bad[0]["distance"] = bad[0]["distance"] - 1e-3
    return (
        name,
        lambda: check_docs(rows, query, vecs, top_k, name),
        lambda: check_docs(bad, query, vecs, top_k, name),
    )
