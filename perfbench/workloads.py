"""The workloads: incremental ingest and tier reads.

Each workload is driven by one client in a closed loop: an operation
starts when the previous one has returned. A workload has a set-up
(inputs, store pre-load, warm-up), a round of operations that
the timed loop repeats, checks made after the loop, and the extra
measurements of a traced run.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from s1tiling_spark.functions.compression import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)
from s1tiling_spark.operators.compress import compress_blocks, decompress_blocks
from s1tiling_spark.operators.gapfill import densify, linear_interpolate, locf
from s1tiling_spark.operators.rollup import (
    merge_hist_long,
    rollup_from_lower,
    rollup_sequences,
    token_hist_long,
)
from s1tiling_spark.plans.backfill import backfill_stat_tiers
from s1tiling_spark.plans.matview import AdditiveMatView, MergeMatView
from s1tiling_spark.plans.router import plan_range, routed_range_totals_from_store
from s1tiling_spark.plans.store import TierStore
from s1tiling_spark.plans.tiers import TierPipeline, TierPipelineConfig

import checks as C
import inputs
from env import dir_bytes
from spans import Tracer, TracedTierStore

STAT_TIERS = ("1h", "1d", "30d")
KEYS = {"1h": ("bucket_start", "source"), "1d": ("bucket_start", "source"),
        "30d": ("bucket_start", "source"), "hist_1d": ("bucket_start", "source", "bin"),
        "hist_30d": ("bucket_start", "source", "bin"), "blocks_1h": ("bucket_start", "source")}
COLS = {"1h": C.STAT_COLS, "1d": C.STAT_COLS, "30d": C.STAT_COLS,
        "hist_1d": ["tok_cnt"], "hist_30d": ["tok_cnt"], "blocks_1h": ["n_points"]}
# input sizes; "small" is the self-test's
SIZES = {
    "full": {
        "ingest_rows": 40_000, "ingest_max_tok": 512, "preload_days": 21,
        "batch_hours": 6, "late_pct": 20, "batches_per_round": 4, "warmup_batches": 2,
        "batches_staged": 40,
        "reads_rows": 40_000, "reads_max_tok": 512, "reads_late_pct": 5,
        "reads_warmup_rounds": 2, "late_window_days": 8,
    },
    "small": {
        "ingest_rows": 3_000, "ingest_max_tok": 64, "preload_days": 40,
        "batch_hours": 6, "late_pct": 20, "batches_per_round": 2, "warmup_batches": 1,
        "batches_staged": 40,
        "reads_rows": 3_000, "reads_max_tok": 64, "reads_late_pct": 5,
        "reads_warmup_rounds": 1, "late_window_days": 8,
    },
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    size: dict
    tracer: Tracer
    rng: random.Random = field(init=False)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def store(self, path: str) -> TierStore:
        if self.tracer.enabled:
            return TracedTierStore(self.spark, path, self.tracer)
        return TierStore(self.spark, path)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def to_pandas(store: TierStore, tier: str, cols: list[str]) -> pd.DataFrame:
    return store.read(tier, keys=KEYS[tier]).select(*cols).toPandas()


def tier_frames(store: TierStore, tiers=tuple(KEYS)) -> dict[str, pd.DataFrame]:
    out = {}
    for t in tiers:
        cols = list(KEYS[t]) + COLS[t] + (["ts_dod", "val_gorilla"] if t == "blocks_1h" else [])
        out[t] = to_pandas(store, t, cols)
    return out


def check_cascade(checks: C.Checks, frames: dict, con, files: list[str], rng) -> None:
    """Checks every cascade output: stat tiers against DuckDB, 30d against
    1d sums, histogram mass and a numpy re-binning, block decoding."""
    for t in STAT_TIERS:
        checks.run(f"stat tier {t} = DuckDB GROUP BY", C.stat_tier_matches, frames[t], con, files, t)
    checks.run("30d = sums of 1d", C.coarse_equals_fine_sums, frames["1d"], frames["30d"])
    checks.run("hist_30d = sums of hist_1d", C.hist_coarse_equals_fine_sums,
               frames["hist_1d"], frames["hist_30d"])
    checks.run("hist_1d mass = 1d sum_n_tok", C.hist_mass_equals_tokens, frames["hist_1d"], frames["1d"])
    checks.run("hist_30d mass = 30d sum_n_tok", C.hist_mass_equals_tokens,
               frames["hist_30d"], frames["30d"])
    checks.run("hist_1d sample = numpy over raw tokens", C.hist_sample_matches_numpy,
               frames["hist_1d"], con, files, rng)
    checks.run("blocks decode bit-exactly to 1h", C.blocks_decode_exactly, frames["blocks_1h"],
               frames["1h"])


def kernel_rates(t1h: pd.DataFrame, min_s: float = 0.3) -> tuple[float, float, float]:
    """Direct codec rates on the run's 1h series: (encode points/s,
    decode points/s, encoded bytes per point)."""
    series = []
    for _src, g in t1h.sort_values("bucket_start").groupby("source"):
        series.append((C.epoch_s(g["bucket_start"]), g["sum_n_tok"].to_numpy().astype("float64")))
    points = sum(len(v) for _, v in series)

    def rate(fn):
        n, t0 = 0, time.perf_counter()
        while True:
            out = fn()
            n += points
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return n / dt, out

    enc_rate, enc = rate(lambda: [(dod_encode(ts), gorilla_encode(v)) for ts, v in series])
    dec_rate, _ = rate(lambda: [(dod_decode(a), gorilla_decode(b)) for a, b in enc])
    nbytes = sum(len(a) + len(b) for a, b in enc)
    return enc_rate, dec_rate, nbytes / max(points, 1)


def store_layer_counts(store: TierStore, tiers=STAT_TIERS) -> dict[str, float]:
    """Row versions scanned per live row, and live data files, of a store."""
    versions = live = files = 0
    for t in tiers:
        versions += store.read(t, deduped=False, keys=KEYS[t]).count()
        live += store.read(t, keys=KEYS[t]).count()
    for t in KEYS:
        files += len(store.files(t))
    return {"store.read_amplification": versions / max(live, 1), "store.live_files": files}


def operator_passes(ctx: Ctx, seq, store: TierStore) -> dict[str, float]:
    """Each operator's output to the noop sink on the workload's input,
    separating operator work from the store write that consumes it."""
    sp = ctx.tracer.span
    with sp("sources.scan"):
        noop(seq.select("tokens"))
    with sp("rollup.stats"):
        noop(rollup_sequences(seq, "1h"))
        lower = store.read("1h").select(*KEYS["1h"], *C.STAT_COLS)
        noop(rollup_from_lower(lower, "1d"))
        noop(rollup_from_lower(store.read("1d").select(*KEYS["1d"], *C.STAT_COLS), "30d"))
    with sp("rollup.hist"):
        noop(token_hist_long(seq, "1d"))
        noop(merge_hist_long(store.read("hist_1d", keys=KEYS["hist_1d"]).select(
            *KEYS["hist_1d"], "tok_cnt"), "30d"))
    with sp("compress.blocks"):
        noop(compress_blocks(store.read("1h").select("bucket_start", "source", "sum_n_tok"),
                             "sum_n_tok"))
    with sp("compress.decode"):
        noop(decompress_blocks(store.read("blocks_1h")))
    tokens = seq.agg(F.sum("n_tok")).first()[0]
    return {"rollup.hist_tokens": float(tokens)}


def compression_counts(store: TierStore) -> dict[str, float]:
    t1h = to_pandas(store, "1h", ["bucket_start", "source", "sum_n_tok"])
    enc, dec, bpp = kernel_rates(t1h)
    return {"compression.encode_points_per_s": enc, "compression.decode_points_per_s": dec,
            "compress.bytes_per_point": bpp}


# ---------------------------------------------------------------- ingest


class IncrementalIngest:
    """Small seeded batches landing after a pre-loaded store; each batch
    runs the pipeline over the grown table and refreshes two views; each
    round of ``batches_per_round`` batches ends with a compaction pass."""

    name = "incremental_ingest"
    trace_rounds = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.staging = ctx.path("ingest_staging")
        self.raw = ctx.path("ingest_raw")
        self.landed: list[str] = []
        self.next_part = 0
        self.batches = 0
        self.batch_rows = 0
        self.batch_s: list[float] = []
        self.refresh_s: list[float] = []
        self.compact_s: list[float] = []
        self.around_compaction: tuple[dict, dict] | None = None

    def _views(self, store):
        day = {"bucket_start": F.date_trunc("day", F.col("bucket_start")), "source": F.col("source")}
        merge = MergeMatView(store, "daily_stats", "1h", KEYS["1h"], day,
                             sum_cols=("cnt", "sum_n_tok"), min_cols=("min_n_tok",),
                             max_cols=("max_n_tok",))
        additive = AdditiveMatView(store, "daily_sums", "1h", KEYS["1h"], day,
                                   sum_cols=("cnt", "sum_n_tok"))
        return merge, additive

    def _land(self) -> int:
        files = inputs.land(self.staging, self.next_part, self.raw)
        if not files:
            raise RuntimeError(f"input exhausted at part {self.next_part}")
        self.next_part += 1
        self.landed += files
        return inputs.parquet_rows(files)

    def setup(self) -> None:
        c, z = self.ctx, self.ctx.size
        part = inputs.ingest_part(z["preload_days"] * 24, z["batch_hours"], c.seed, z["late_pct"])
        # only the batches a run can reach are staged; a run keeps its
        # scratch directory, so unused parts would only take disk space
        inputs.write_parts(c.spark, self.staging, z["ingest_rows"], c.seed, z["ingest_max_tok"],
                           part, max_part=z["batches_staged"])
        self.store_dir = c.path("ingest_store")
        store = c.store(self.store_dir)
        self._land()
        TierPipeline(store).run(c.spark.read.parquet(self.raw))
        for v in self._views(store):
            v.refresh("preload")
        # warm-up: the first incremental batches and compaction in a fresh
        # JVM run slower; the reads around this compaction feed a check
        for _ in range(z["warmup_batches"]):
            self._batch()
        before = tier_frames(store)
        self._compaction()
        self.around_compaction = (before, tier_frames(store))
        self.batches = self.batch_rows = 0
        self.batch_s.clear()
        self.refresh_s.clear()
        self.compact_s.clear()

    @property
    def units_per_round(self) -> int:
        return self.ctx.size["batches_per_round"]

    def round(self) -> int:
        """``batches_per_round`` batches, then a compaction pass."""
        for _ in range(self.units_per_round):
            self._batch()
        self._compaction()
        return 3 * self.units_per_round + 1

    def _batch(self) -> None:
        """Land one batch, run the pipeline, refresh both views."""
        c, tr = self.ctx, self.ctx.tracer
        store = c.store(self.store_dir)
        rows = self._land()
        t0 = time.perf_counter()
        with tr.span("tiers.run"):
            TierPipeline(store).run(c.spark.read.parquet(self.raw))
        t1 = time.perf_counter()
        delta = 0
        for v in self._views(store):
            with tr.span("matview.refresh"):
                delta += v.refresh(f"batch{self.next_part}")["rows"]
        t2 = time.perf_counter()
        tr.count("matview.delta_rows", delta)
        self.batches += 1
        self.batch_rows += rows
        self.batch_s.append(t1 - t0)
        self.refresh_s.append(t2 - t1)

    def _compaction(self) -> None:
        """One compaction pass over every tier, keeping history back to the
        views' refresh cursor (the current seq)."""
        store = self.ctx.store(self.store_dir)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("store.compact"):
            horizon = store.last_commit_seq()
            for t in KEYS:
                store.compact(t, keys=KEYS[t], expire_below=horizon)
        self.compact_s.append(time.perf_counter() - t0)

    def e2e(self, loop_s: float, ops: int) -> dict:
        rows = inputs.parquet_rows(self.landed)
        return {"op_s": median(self.batch_s), "ops_per_s": self.batches / loop_s,
                "store_bytes_per_row": dir_bytes(self.store_dir) / rows}

    def detail(self, loop_s: float) -> dict:
        return {"ingest_batch_s": median(self.batch_s),
                "ingest_rows_per_s": self.batch_rows / loop_s,
                "refresh_s": median(self.refresh_s), "compact_s": median(self.compact_s),
                "batches": self.batches, "batch_rows": self.batch_rows,
                "compactions": len(self.compact_s), "batch_s": self.batch_s}

    def check(self, checks: C.Checks) -> None:
        c = self.ctx
        store = TierStore(c.spark, self.store_dir)
        con = C.duck()
        frames = tier_frames(store)
        check_cascade(checks, frames, con, self.landed, random.Random(c.seed))
        merge, additive = self._views(store)
        base = frames["1h"]
        checks.run("merge view = DuckDB daily aggregate of 1h", C.view_matches,
                   merge.read().toPandas(), base,
                   {"n_rows": "count(*)", "cnt": "sum(cnt)", "sum_n_tok": "sum(sum_n_tok)",
                    "min_n_tok_min": "min(min_n_tok)", "max_n_tok_max": "max(max_n_tok)"})
        checks.run("additive view = DuckDB daily sums of 1h", C.view_matches,
                   additive.read().toPandas(), base,
                   {"cnt": "sum(cnt)", "sum_n_tok": "sum(sum_n_tok)"})
        # the incremental end state equals one run over the same rows
        oneshot = TierStore(c.spark, c.path("ingest_oneshot"))
        TierPipeline(oneshot).run(c.spark.read.parquet(self.raw))
        once = tier_frames(oneshot)
        checks.run("incremental end state = one-shot run", C.frames_equal, frames, once,
                   {t: list(KEYS[t]) for t in KEYS}, COLS)
        checks.run("blocks bytes = one-shot run", _blocks_equal, frames["blocks_1h"],
                   once["blocks_1h"])
        # a read before compaction equals the read after it
        checks.run("reads before = after the set-up compaction", C.frames_equal,
                   *self.around_compaction, {t: list(KEYS[t]) for t in KEYS}, COLS)

    def extras(self) -> dict:
        store = self.ctx.store(self.store_dir)
        out = store_layer_counts(store)
        out.update(operator_passes(self.ctx, self.ctx.spark.read.parquet(self.raw), store))
        out.update(compression_counts(store))
        return out


def _blocks_equal(a: pd.DataFrame, b: pd.DataFrame):
    key = ["source", "bucket_start"]
    a = a.assign(bucket_start=C.epoch_s(a["bucket_start"])).sort_values(key).reset_index(drop=True)
    b = b.assign(bucket_start=C.epoch_s(b["bucket_start"])).sort_values(key).reset_index(drop=True)
    if len(a) != len(b):
        return f"{len(a)} blocks, expected {len(b)}"
    for c in ("source", "bucket_start", "n_points"):
        if not (a[c].to_numpy() == b[c].to_numpy()).all():
            return f"block column {c} differs"
    for c in ("ts_dod", "val_gorilla"):
        if any(bytes(x) != bytes(y) for x, y in zip(a[c], b[c])):
            return f"block column {c} differs"
    return None


# ---------------------------------------------------------------- reads


class TierReads:
    """A read-only seeded mix against a store with a known commit history:
    routed range totals, time-travel reads and changelogs, gap-filled
    series and block decodes."""

    name = "tier_reads"
    trace_rounds = 3
    units_per_round = 8

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.staging = ctx.path("reads_staging")
        self.raw = ctx.path("reads_raw")
        self.results: list[tuple] = []
        self.lat: dict[str, list[float]] = {k: [] for k in ("range", "asof", "changes",
                                                              "series", "decode")}

    def setup(self) -> None:
        c, z = self.ctx, self.ctx.size
        rng = random.Random(c.seed + 1)
        span = z["late_window_days"] * 24
        lo1 = rng.randrange(2 * 24, 18 * 24, 24)
        lo2 = rng.randrange(14 * 24, 30 * 24, 24)
        self.windows = [(lo1, lo1 + span), (lo2, lo2 + span)]
        part = inputs.reads_part(self.windows, c.seed, z["reads_late_pct"])
        inputs.write_parts(c.spark, self.staging, z["reads_rows"], c.seed, z["reads_max_tok"], part)
        self.store_dir = c.path("reads_store")
        store = c.store(self.store_dir)
        # commit history: (seq, files landed by then, 1h windows re-committed)
        self.history: list[tuple[int, list[str], tuple[int, int] | None]] = []
        files = inputs.land(self.staging, 0, self.raw)
        # the reads touch no histogram tier, so the set-up builds none
        TierPipeline(store, TierPipelineConfig(hist=False)).run(c.spark.read.parquet(self.raw))
        self.pipeline_files = list(files)
        self.history.append((store.last_commit_seq(), list(files), None))
        for i, (lo, hi) in enumerate(self.windows, start=1):
            files += inputs.land(self.staging, i, self.raw)
            backfill_stat_tiers(store, c.spark.read.parquet(self.raw), inputs.hour(lo),
                                inputs.hour(hi), run_id=f"late{i}")
            self.history.append((store.last_commit_seq(), list(files), (lo, hi)))
        self.files = files
        self.rows = inputs.parquet_rows(files)
        con = C.duck()
        self.sources = sorted(con.execute(
            f"SELECT DISTINCT source FROM {C.files_sql(files)}").df()["source"])
        # warm-up, not sampled: in a fresh JVM range queries keep getting
        # faster through the first dozen or so
        for _ in range(z["reads_warmup_rounds"]):
            self.round()
        self.results.clear()
        for v in self.lat.values():
            v.clear()

    # ---- requests ----
    def _range(self, kind: str, lo: int, hi: int, as_of: int | None) -> None:
        c, tr = self.ctx, self.ctx.tracer
        start, end = inputs.hour(lo), inputs.hour(hi)
        store = c.store(self.store_dir)
        t0 = time.perf_counter()
        with tr.span("router.range"):
            got = routed_range_totals_from_store(store, start, end, as_of_seq=as_of).toPandas()
        self.lat[kind].append(time.perf_counter() - t0)
        plan = plan_range(start, end)
        tr.count("router.tiers_read", sum(bool(s) for s in (plan.spans_1h, plan.spans_1d,
                                                             plan.spans_30d)))
        self.results.append(("range", got, start, end, as_of))

    def _changes(self, a: int, b: int) -> None:
        c = self.ctx
        store = c.store(self.store_dir)
        t0 = time.perf_counter()
        with c.tracer.span("store.changes"):
            got = store.changes("1h", a, b).select("op", *KEYS["1h"], *C.STAT_COLS).toPandas()
        self.lat["changes"].append(time.perf_counter() - t0)
        self.results.append(("changes", got, a, b))

    def _series(self, src: str) -> None:
        c = self.ctx
        store = c.store(self.store_dir)
        t0 = time.perf_counter()
        with c.tracer.span("gapfill.series"):
            t1h = store.read("1h", sources=[src]).select("bucket_start", "source", "sum_n_tok")
            d = densify(t1h, "1h")
            d = d.withColumn("sum_n_tok_locf", F.col("sum_n_tok")).withColumn(
                "sum_n_tok_lin", F.col("sum_n_tok"))
            d = linear_interpolate(locf(d, ["sum_n_tok_locf"]), "sum_n_tok_lin")
            got = d.select("bucket_start", "gap_filled", "sum_n_tok_locf",
                           "sum_n_tok_lin").toPandas()
        self.lat["series"].append(time.perf_counter() - t0)
        c.tracer.count("gapfill.grid_rows", len(got))
        self.results.append(("series", got, src))

    def _decode(self, src: str) -> None:
        c = self.ctx
        store = c.store(self.store_dir)
        t0 = time.perf_counter()
        with c.tracer.span("compress.decode"):
            got = decompress_blocks(store.read("blocks_1h", sources=[src])).toPandas()
        self.lat["decode"].append(time.perf_counter() - t0)
        self.results.append(("decode", got, src))

    def round(self) -> int:
        rng = self.ctx.rng
        seqs = [h[0] for h in self.history]
        for _ in range(2):
            # a range through 1h, 1d and the 30d block [2024-01-18, 2024-02-17)
            self._range("range", rng.randrange(0, 16 * 24), rng.randrange(48 * 24, 50 * 24), None)
            # a range inside January's first three weeks: 1h and 1d only
            lo = rng.randrange(24, 10 * 24)
            self._range("range", lo, lo + rng.randrange(3 * 24, 10 * 24), None)
        self._range("asof", rng.randrange(0, 16 * 24), rng.randrange(48 * 24, 50 * 24),
                    rng.choice(seqs))
        a, b = sorted(rng.sample(range(len(seqs)), 2))
        self._changes(seqs[a], seqs[b])
        self._series(rng.choice(self.sources))
        self._decode(rng.choice(self.sources))
        return self.units_per_round

    def e2e(self, loop_s: float, ops: int) -> dict:
        return {"op_s": median(self.lat["range"]), "ops_per_s": ops / loop_s,
                "store_bytes_per_row": dir_bytes(self.store_dir) / self.rows}

    def detail(self, loop_s: float) -> dict:
        return {"range_query_s": median(self.lat["range"]),
                "asof_read_s": median(self.lat["asof"] + self.lat["changes"]),
                "series_read_s": median(self.lat["series"] + self.lat["decode"]),
                "requests": {k: len(v) for k, v in self.lat.items()}, "latency_s": self.lat}

    def check(self, checks: C.Checks) -> None:
        c = self.ctx
        con = C.duck()
        seq_files = {seq: files for seq, files, _ in self.history}
        t1h_now = C.expected_stats(con, self.files, "1h")
        # the blocks were written by the pipeline run, before the late rows
        t1h_pipeline = C.expected_stats(con, self.pipeline_files, "1h")
        blocks = to_pandas(TierStore(c.spark, self.store_dir), "blocks_1h",
                           ["bucket_start", "source", "n_points", "ts_dod", "val_gorilla"])
        checks.run("blocks decode bit-exactly to 1h at the pipeline commit",
                   C.blocks_decode_exactly, blocks, t1h_pipeline)
        states = {seq: C.expected_stats(con, files, "1h") for seq, files in seq_files.items()}
        for i, kind in enumerate(self.results):
            if kind[0] == "range":
                _, got, start, end, as_of = kind
                files = self.files if as_of is None else seq_files[as_of]
                checks.run(f"routed totals #{i} = DuckDB", C.range_totals_match, got, con,
                           files, start, end)
            elif kind[0] == "changes":
                _, got, a, b = kind
                rewritten = [(inputs.epoch(w[0]), inputs.epoch(w[1]))
                             for seq, _f, w in self.history if a < seq <= b and w]
                checks.run(f"changes #{i} = DuckDB states", C.changes_match, got, states[a],
                           states[b], rewritten)
            elif kind[0] == "series":
                _, got, src = kind
                obs = t1h_now[t1h_now["source"] == src]
                checks.run(f"gap-fill #{i} holds", C.gapfill_holds, got, obs, "sum_n_tok")
            else:
                _, got, src = kind
                want = t1h_pipeline[t1h_pipeline["source"] == src].rename(
                    columns={"sum_n_tok": "value"})
                checks.run(f"decode #{i} = 1h", _decoded_matches, got, want)

    def extras(self) -> dict:
        store = self.ctx.store(self.store_dir)
        out = store_layer_counts(store)
        out.update(compression_counts(store))
        return out


def _decoded_matches(got: pd.DataFrame, want: pd.DataFrame):
    g = pd.DataFrame({"ts": C.epoch_s(got["bucket_start"]),
                      "bits": got["value"].to_numpy().astype("float64").view("int64")})
    w = pd.DataFrame({"ts": C.epoch_s(want["bucket_start"]),
                      "bits": want["value"].to_numpy().astype("float64").view("int64")})
    g, w = g.sort_values("ts").reset_index(drop=True), w.sort_values("ts").reset_index(drop=True)
    if len(g) != len(w) or not (g.to_numpy() == w.to_numpy()).all():
        return f"{len(g)} decoded points differ from {len(w)} expected"
    return None


WORKLOADS = {w.name: w for w in (IncrementalIngest, TierReads)}
