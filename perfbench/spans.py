"""Spans around the calls into each layer, and their Spark cost.

A span is a named interval with a parent. While a span is open, every
Spark job the driver submits carries the span's id in the local property
``perfbench.span`` (and the span name as its job description), so the
event log written by the session attributes each job, its tasks and
their metrics to the innermost open span. Spans live in memory and are
joined with the event log after the session stops.

``TracedTierStore`` opens a span in each public ``TierStore`` method the
workloads reach, then calls the parent: that is how store work done
inside ``TierPipeline.run`` or a matview refresh is told apart from the
planner and the operators.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

from s1tiling_spark.plans.store import TierStore

SPAN_PROP = "perfbench.span"

# every span name a traced run reports, with the fields of each
SPANS = (
    "sources.scan",
    "rollup.stats",
    "rollup.hist",
    "compress.blocks",
    "compress.decode",
    "tiers.run",
    "store.append",
    "store.meta",
    "store.read",
    "store.compact",
    "store.changes",
    "matview.refresh",
    "router.range",
    "gapfill.series",
)
FIELDS = (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
          ("shuffle_bytes", "bytes"), ("gap_s", "s"))
COUNTS = (
    ("tiers.run.self_s", "s"),
    ("rollup.hist_tokens", "count"),
    ("compression.encode_points_per_s", "points/s"),
    ("compression.decode_points_per_s", "points/s"),
    ("compress.bytes_per_point", "bytes/point"),
    ("store.files_written", "count"),
    ("store.bytes_written", "bytes"),
    ("store.read_amplification", "ratio"),
    ("store.live_files", "count"),
    ("store.compact_bytes_rewritten", "bytes"),
    ("matview.delta_rows", "count"),
    ("router.tiers_read", "count"),
    ("gapfill.grid_rows", "count"),
    ("spark.jobs_per_batch", "count"),
    ("spark.gc_s", "s"),
    ("tracing.overhead_s", "s"),
    ("tracing.coverage", "ratio"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order."""
    out = [(f"{s}.{f}", u) for s in SPANS for f, u in FIELDS]
    return out + list(COUNTS)


class Tracer:
    """Records spans and counters; a disabled tracer records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)

    def _mark(self, sid: int | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))
        self.sc.setJobDescription(None if sid is None else self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self._mark(sid)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self.stack.pop()
            self._mark(self.stack[-1] if self.stack else None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value


def _parquet_sizes(path: str) -> dict[str, int]:
    return {p: os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                      recursive=True)}


class TracedTierStore(TierStore):
    """``TierStore`` whose public methods run inside tracer spans."""

    def __init__(self, spark, base_dir: str, tracer: Tracer):
        super().__init__(spark, base_dir)
        self.tracer = tracer

    def append(self, tier, df, commit_seq, run_id, *args, **kwargs):
        before = _parquet_sizes(self.tier_path(tier))
        with self.tracer.span("store.append"):
            rows = super().append(tier, df, commit_seq, run_id, *args, **kwargs)
        new = {p: n for p, n in _parquet_sizes(self.tier_path(tier)).items() if p not in before}
        self.tracer.count("store.files_written", len(new))
        self.tracer.count("store.bytes_written", sum(new.values()))
        return rows

    def compact(self, tier, *args, **kwargs):
        before = _parquet_sizes(self.tier_path(tier))
        with self.tracer.span("store.compact"):
            out = super().compact(tier, *args, **kwargs)
        after = _parquet_sizes(self.tier_path(tier))
        self.tracer.count("store.compact_bytes_rewritten",
                          sum(v for p, v in after.items() if p not in before))
        return out

    def read(self, tier, *args, **kwargs):
        with self.tracer.span("store.read"):
            return super().read(tier, *args, **kwargs)

    def changes(self, tier, *args, **kwargs):
        with self.tracer.span("store.changes"):
            return super().changes(tier, *args, **kwargs)

    def next_commit_seq(self):
        with self.tracer.span("store.meta"):
            return super().next_commit_seq()

    def read_watermarks(self, tier):
        with self.tracer.span("store.meta"):
            return super().read_watermarks(tier)

    def commit_checkpoint(self, *args, **kwargs):
        with self.tracer.span("store.meta"):
            return super().commit_checkpoint(*args, **kwargs)

    def append_metrics(self, rows):
        with self.tracer.span("store.meta"):
            return super().append_metrics(rows)


def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """Jobs and per-job task totals from the (stopped) session's event log.

    Returns ``(jobs, tasks)``: ``jobs[id] = {"t0", "t1", "span"}`` with
    times in epoch seconds, ``tasks[job] = {"tasks", "task_s", "gc_s",
    "shuffle_bytes"}``."""
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = [f for f in glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
             if os.path.isfile(f)]
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    if not files:
        raise RuntimeError(f"no event log under {event_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')
    for line in _lines(files):
        if not any(w in line[:64] for w in wanted):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            span = (ev.get("Properties") or {}).get(SPAN_PROP)
            jobs[jid] = {"t0": ev["Submission Time"] / 1000.0, "t1": None,
                         "span": int(span) if span is not None else None}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        else:
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            if jid is None or not m:
                continue
            t = tasks[jid]
            t["tasks"] += 1
            t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs, tasks


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(spans: list[dict], jobs: dict, tasks: dict,
                  window: tuple[float, float]) -> dict[str, float]:
    """Per span name: the six fields summed over its outermost instances.

    A job belongs to the span whose id it carries, or, when it carries
    none, to the innermost span open at its submission. ``window`` is the
    traced interval; GC time and the job count cover its jobs."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(sid):
        while sid is not None:
            yield sid
            sid = by_id[sid]["parent"]

    def innermost_at(t):
        best = None
        for s in spans:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= by_id[best]["t0"]):
                best = s["id"]
        return best

    span_jobs: dict[int, list[int]] = defaultdict(list)
    for jid, j in jobs.items():
        sid = j["span"] if j["span"] in by_id else innermost_at(j["t0"])
        for a in ancestors(sid):
            span_jobs[a].append(jid)

    def outermost(name):
        for s in spans:
            if not any(by_id[a]["name"] == name for a in list(ancestors(s["parent"]))):
                if s["name"] == name:
                    yield s

    out: dict[str, float] = {}
    for name in SPANS:
        acc = dict.fromkeys((f for f, _ in FIELDS), 0.0)
        for s in outermost(name):
            wall = s["t1"] - s["t0"]
            js = span_jobs.get(s["id"], [])
            acc["s"] += wall
            acc["jobs"] += len(js)
            for jid in js:
                t = tasks.get(jid, {})
                acc["tasks"] += t.get("tasks", 0)
                acc["task_s"] += t.get("task_s", 0.0)
                acc["shuffle_bytes"] += t.get("shuffle_bytes", 0)
            covered = _union_len([(max(jobs[j]["t0"], s["t0"]), min(jobs[j]["t1"], s["t1"]))
                                  for j in js if jobs[j]["t1"] > s["t0"] and jobs[j]["t0"] < s["t1"]])
            acc["gap_s"] += wall - covered
        for f, _ in FIELDS:
            out[f"{name}.{f}"] = acc[f]
    # tiers.run self time: the span minus its direct and nested store.* spans
    self_s = 0.0
    for run in outermost("tiers.run"):
        inner = [(s["t0"], s["t1"]) for s in spans if s["name"].startswith("store.")
                 and run["id"] in ancestors(s["parent"])]
        self_s += (run["t1"] - run["t0"]) - _union_len(inner)
    out["tiers.run.self_s"] = self_s
    lo, hi = window
    in_window = [j for j, v in jobs.items() if lo <= v["t0"] <= hi]
    out["spark.gc_s"] = sum(tasks.get(j, {}).get("gc_s", 0.0) for j in in_window)
    out["_jobs_in_window"] = len(in_window)
    top = [(s["t0"], s["t1"]) for s in spans if s["parent"] is None
           and s["t0"] >= lo and s["t1"] <= hi]
    out["tracing.coverage"] = _union_len(top) / (hi - lo) if hi > lo else 0.0
    return out
