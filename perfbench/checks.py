"""Correctness checks made apart from the engine.

Expected values come from DuckDB over the raw parquet files, from numpy
over the raw token arrays, or from a property the method must have.
Engine outputs are collected to pandas and compared exactly: every
column is an integer count, an integer sum or a float64 compared by its
bit pattern. Each check is one operation; one that raises or disagrees
is one failed operation.
"""

from __future__ import annotations

import traceback

import duckdb
import numpy as np
import pandas as pd

from s1tiling_spark.functions.compression import dod_decode, gorilla_decode
from s1tiling_spark.operators.rollup import N_HIST_BINS, VOCAB

STAT_COLS = ["cnt", "sum_n_tok", "min_n_tok", "max_n_tok"]
_TRUNC = {"1h": "hour", "1d": "day"}
_30D = 30 * 86400


class Checks:
    """Runs named checks and keeps each outcome."""

    def __init__(self) -> None:
        self.results: list[tuple[str, bool, str]] = []

    def run(self, name: str, fn, *args) -> bool:
        try:
            detail = fn(*args)
            ok = detail is None
        except Exception:  # a check that crashes is a failed check
            ok, detail = False, traceback.format_exc(limit=3)
        self.results.append((name, ok, detail or ""))
        return ok

    @property
    def failed(self) -> list[tuple[str, bool, str]]:
        return [r for r in self.results if not r[1]]


def epoch_s(col: pd.Series) -> np.ndarray:
    """Timestamps as whole epoch seconds, whatever their pandas unit."""
    if pd.api.types.is_integer_dtype(col):
        return col.to_numpy()
    return (pd.to_datetime(col).astype("datetime64[us]").astype("int64") // 1_000_000).to_numpy()


def normalize(df: pd.DataFrame, keys: list[str], cols: list[str]) -> pd.DataFrame:
    out = pd.DataFrame({k: epoch_s(df[k]) if k == "bucket_start" else df[k].astype(str)
                        for k in keys})
    for c in cols:
        out[c] = df[c].to_numpy().astype("int64")
    return out.sort_values(keys).reset_index(drop=True)


def frame_diff(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
               cols: list[str]) -> str | None:
    """None when equal; else a short description of the first mismatch."""
    g, w = normalize(got, keys, cols), normalize(want, keys, cols)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for c in keys + cols:
        bad = np.flatnonzero(g[c].to_numpy() != w[c].to_numpy())
        if len(bad):
            i = bad[0]
            return f"column {c}: {g.iloc[i].to_dict()} != {w.iloc[i].to_dict()}"
    return None


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def files_sql(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def bucket_sql(tier: str) -> str:
    ts = "CAST(event_ts AS TIMESTAMP)"
    if tier in _TRUNC:
        return f"date_trunc('{_TRUNC[tier]}', {ts})"
    return f"CAST(to_timestamp(floor(epoch({ts}) / {_30D}) * {_30D}) AS TIMESTAMP)"


def expected_stats(con, files: list[str], tier: str) -> pd.DataFrame:
    """DuckDB GROUP BY over the raw rows: the stat tier's expected rows."""
    return con.execute(
        f"SELECT {bucket_sql(tier)} AS bucket_start, source, count(*) AS cnt, "
        "sum(n_tok) AS sum_n_tok, min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok "
        f"FROM {files_sql(files)} GROUP BY ALL"
    ).df()


def expected_range_totals(con, files: list[str], lo, hi) -> pd.DataFrame:
    return con.execute(
        "SELECT source, count(*) AS cnt, sum(n_tok) AS sum_n_tok "
        f"FROM {files_sql(files)} WHERE CAST(event_ts AS TIMESTAMP) >= ? "
        "AND CAST(event_ts AS TIMESTAMP) < ? GROUP BY source",
        [lo, hi],
    ).df()


# ---------- checks: each returns None when it holds ----------

def stat_tier_matches(got: pd.DataFrame, con, files: list[str], tier: str):
    return frame_diff(got, expected_stats(con, files, tier), ["bucket_start", "source"], STAT_COLS)


def coarse_equals_fine_sums(fine: pd.DataFrame, coarse: pd.DataFrame):
    """30d rows are the sums (min of mins, max of maxes) of the 1d rows."""
    f = fine.assign(bucket_start=epoch_s(fine["bucket_start"]) // _30D * _30D)
    want = f.groupby(["bucket_start", "source"], as_index=False).agg(
        cnt=("cnt", "sum"), sum_n_tok=("sum_n_tok", "sum"),
        min_n_tok=("min_n_tok", "min"), max_n_tok=("max_n_tok", "max"))
    want["bucket_start"] = pd.to_datetime(want["bucket_start"], unit="s")
    return frame_diff(coarse, want, ["bucket_start", "source"], STAT_COLS)


def hist_coarse_equals_fine_sums(fine: pd.DataFrame, coarse: pd.DataFrame):
    f = fine.assign(bucket_start=epoch_s(fine["bucket_start"]) // _30D * _30D)
    want = f.groupby(["bucket_start", "source", "bin"], as_index=False)["tok_cnt"].sum()
    want["bucket_start"] = pd.to_datetime(want["bucket_start"], unit="s")
    return frame_diff(coarse, want, ["bucket_start", "source", "bin"], ["tok_cnt"])


def hist_mass_equals_tokens(hist: pd.DataFrame, stats: pd.DataFrame):
    """Histogram mass per (bucket, source) equals the tier's ``sum_n_tok``."""
    mass = hist.assign(bucket_start=epoch_s(hist["bucket_start"])).groupby(
        ["bucket_start", "source"], as_index=False)["tok_cnt"].sum()
    want = stats.assign(bucket_start=epoch_s(stats["bucket_start"]))[
        ["bucket_start", "source", "sum_n_tok"]].rename(columns={"sum_n_tok": "tok_cnt"})
    mass["bucket_start"] = pd.to_datetime(mass["bucket_start"], unit="s")
    want["bucket_start"] = pd.to_datetime(want["bucket_start"], unit="s")
    return frame_diff(mass, want, ["bucket_start", "source"], ["tok_cnt"])


def hist_sample_matches_numpy(hist: pd.DataFrame, con, files: list[str], rng, k: int = 3):
    """A seeded sample of daily groups, re-binned in numpy from raw tokens."""
    groups = hist[["bucket_start", "source"]].drop_duplicates().reset_index(drop=True)
    width = VOCAB // N_HIST_BINS
    for i in rng.sample(range(len(groups)), min(k, len(groups))):
        day, src = groups.loc[i, "bucket_start"], groups.loc[i, "source"]
        day = pd.Timestamp(day).to_pydatetime()
        toks = con.execute(
            f"SELECT unnest(tokens) AS t FROM {files_sql(files)} WHERE source = ? "
            "AND date_trunc('day', CAST(event_ts AS TIMESTAMP)) = ?", [src, day],
        ).fetchnumpy()["t"]
        counts = np.bincount(np.minimum(np.asarray(toks, dtype=np.int64) // width,
                                        N_HIST_BINS - 1), minlength=N_HIST_BINS)
        want = pd.DataFrame({"bin": np.flatnonzero(counts)})
        want["tok_cnt"] = counts[want["bin"]]
        got = hist[(epoch_s(hist["bucket_start"]) == int(pd.Timestamp(day).timestamp()))
                   & (hist["source"] == src)][["bin", "tok_cnt"]]
        got = got.sort_values("bin").reset_index(drop=True)
        if not (np.array_equal(got["bin"].to_numpy(), want["bin"].to_numpy())
                and np.array_equal(got["tok_cnt"].to_numpy(), want["tok_cnt"].to_numpy())):
            return f"histogram of {src} on {day:%Y-%m-%d} differs from numpy"
    return None


def blocks_decode_exactly(blocks: pd.DataFrame, t1h: pd.DataFrame, value_col: str = "sum_n_tok"):
    """Every block decodes bit-exactly to the 1h series it encodes."""
    pts = []
    for row in blocks.itertuples(index=False):
        ts = dod_decode(bytes(row.ts_dod))
        vals = gorilla_decode(bytes(row.val_gorilla))
        if len(ts) != row.n_points or len(vals) != row.n_points:
            return f"block {row.source}/{row.bucket_start}: n_points mismatch"
        pts.append(pd.DataFrame({"source": row.source, "ts": ts,
                                 "bits": np.asarray(vals, dtype=np.float64).view(np.int64)}))
    got = pd.concat(pts).sort_values(["source", "ts"]).reset_index(drop=True)
    want = pd.DataFrame({
        "source": t1h["source"].astype(str).to_numpy(),
        "ts": epoch_s(t1h["bucket_start"]),
        "bits": t1h[value_col].to_numpy().astype(np.float64).view(np.int64),
    }).sort_values(["source", "ts"]).reset_index(drop=True)
    if len(got) != len(want):
        return f"{len(got)} decoded points, expected {len(want)}"
    for c in ("source", "ts", "bits"):
        if not np.array_equal(got[c].to_numpy(), want[c].to_numpy()):
            return f"decoded {c} differs"
    return None


def range_totals_match(got: pd.DataFrame, con, files: list[str], lo, hi):
    want = expected_range_totals(con, files, lo, hi)
    return frame_diff(got, want, ["source"], ["cnt", "sum_n_tok"])


def changes_match(got: pd.DataFrame, before: pd.DataFrame, after: pd.DataFrame,
                  rewritten: list[tuple[int, int]]):
    """``changes(a, b)`` on the 1h tier, against two DuckDB states.

    Keys only in ``after`` are inserts, keys only in ``before`` deletes.
    A key in both is an update when it was re-committed in (a, b]: the
    set-up re-committed every key inside the ``rewritten`` hour windows
    (epoch seconds, half-open). Post-images carry the ``after`` values,
    delete rows the ``before`` values."""
    keys = ["bucket_start", "source"]
    b = normalize(before, keys, STAT_COLS)
    a = normalize(after, keys, STAT_COLS)
    m = a.merge(b, on=keys, how="outer", suffixes=("", "_pre"), indicator=True)
    ts = m["bucket_start"].to_numpy()
    in_window = np.zeros(len(m), dtype=bool)
    for lo, hi in rewritten:
        in_window |= (ts >= lo) & (ts < hi)
    m["op"] = np.select(
        [m["_merge"] == "left_only", m["_merge"] == "right_only", in_window],
        ["insert", "delete", "update"], default="")
    want = m[m["op"] != ""].copy()
    for c in STAT_COLS:
        want[c] = np.where(want["op"] == "delete", want[f"{c}_pre"], want[c])
    return frame_diff(got, want[["op", *keys, *STAT_COLS]], ["op", *keys], STAT_COLS)


def view_matches(got: pd.DataFrame, base_1h: pd.DataFrame, cols: dict[str, str]):
    """Daily matview rows against a DuckDB aggregate of the base tier.

    ``cols`` maps each view column to the DuckDB aggregate producing it."""
    con = duck()
    con.register("base", base_1h)
    sel = ", ".join(f"{expr} AS {name}" for name, expr in cols.items())
    want = con.execute(
        f"SELECT date_trunc('day', bucket_start) AS bucket_start, source, {sel} "
        "FROM base GROUP BY ALL").df()
    return frame_diff(got, want, ["bucket_start", "source"], list(cols))


def gapfill_holds(dense: pd.DataFrame, obs: pd.DataFrame, col: str, step_s: int = 3600):
    """A gap-filled series: a complete grid, observed values untouched,
    LOCF repeating the last observation and interpolation on the segment.

    ``dense`` has ``bucket_start``, ``gap_filled``, ``<col>_locf`` and
    ``<col>_lin``; ``obs`` holds the observed (bucket_start, col) rows."""
    d = dense.assign(ts=epoch_s(dense["bucket_start"])).sort_values("ts")
    o = obs.assign(ts=epoch_s(obs["bucket_start"])).sort_values("ts")
    ts = d["ts"].to_numpy()
    if len(ts) == 0 or ts[0] != o["ts"].iloc[0] or ts[-1] != o["ts"].iloc[-1]:
        return "grid does not span the observed range"
    if not np.array_equal(np.diff(ts), np.full(len(ts) - 1, step_s)):
        return "grid has holes or duplicates"
    observed = dict(zip(o["ts"].to_numpy(), o[col].to_numpy().astype(np.float64)))
    if d["gap_filled"].to_numpy().sum() != len(ts) - len(observed):
        return "gap_filled flags do not match the missing buckets"
    prev_t = prev_v = None
    next_obs = sorted(observed)
    j = 0
    for t, locf_v, lin_v in zip(ts, d[f"{col}_locf"].to_numpy(), d[f"{col}_lin"].to_numpy()):
        while j < len(next_obs) and next_obs[j] < t:
            j += 1
        if t in observed:
            prev_t, prev_v = t, observed[t]
            if locf_v != prev_v or lin_v != prev_v:
                return f"observed value changed at {t}"
            continue
        nt = next_obs[j]
        nv = observed[nt]
        if locf_v != prev_v:
            return f"LOCF at {t} is {locf_v}, last observation {prev_v}"
        want = prev_v + (nv - prev_v) * ((t - prev_t) / (nt - prev_t))
        if not np.isclose(lin_v, want, rtol=1e-12, atol=1e-9) or not (
                min(prev_v, nv) - 1e-9 <= lin_v <= max(prev_v, nv) + 1e-9):
            return f"interpolated {lin_v} at {t} is off the segment ({prev_v} -> {nv})"
    return None


def frames_equal(before: dict[str, pd.DataFrame], after: dict[str, pd.DataFrame],
                 keys: dict[str, list[str]], cols: dict[str, list[str]]):
    """The same reads, before and after a compaction."""
    for tier in before:
        d = frame_diff(after[tier], before[tier], keys[tier], cols[tier])
        if d:
            return f"{tier}: {d}"
    return None
