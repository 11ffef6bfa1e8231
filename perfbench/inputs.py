"""Seeded inputs: the ``synth_sequences`` table, split into landing parts.

Every input comes from ``synth_sequences(seed=...)`` (45 days of hourly
event times from 2024-01-01 over one hot and seven cold sources, with
whole-hour gaps per source). A workload that lands data in steps adds a
``part`` column and writes one directory per part; landing a part moves
its parquet files into the raw-table directory, which is how a batch
arrives from an upstream writer.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F

from s1tiling_spark.sources.synth import synth_sequences

BASE = datetime(2024, 1, 1)
SPAN_HOURS = 45 * 24


def hour_index() -> Column:
    """Whole hours since ``BASE`` of each row's ``event_ts``."""
    return (
        (F.unix_timestamp("event_ts") - F.unix_timestamp(F.lit(BASE))) / F.lit(3600)
    ).cast("long")


def drawn(seed: int, pct: int) -> Column:
    """A seeded ``pct`` percent of rows, picked by hashing ``doc_id``."""
    return F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed + 101)), F.lit(100)) < pct


def write_parts(spark, path: str, rows: int, seed: int, max_tok: int, part: Column,
                max_part: int | None = None) -> None:
    """Write the seeded table as one directory (one file) per ``part``,
    leaving out the rows of parts above ``max_part``."""
    df = synth_sequences(spark, rows, seed=seed, max_tok=max_tok, num_partitions=8)
    df = df.withColumn("part", part)
    if max_part is not None:
        df = df.where(F.col("part") <= max_part)
    df.repartition("part").write.partitionBy("part").parquet(path)


def ingest_part(preload_hours: int, batch_hours: int, seed: int, late_pct: int) -> Column:
    """Part 0: the first ``preload_hours``; part k >= 1: the k-th window
    of ``batch_hours`` after it. A seeded ``late_pct`` of the rows in the
    last hour of each window arrive one part late, so they fall into a
    bucket the previous pipeline run already committed."""
    h = hour_index()
    part = F.when(h < preload_hours, F.lit(0)).otherwise(
        F.floor((h - preload_hours) / batch_hours) + 1
    )
    last_hour = (h == preload_hours - 1) | (
        (h >= preload_hours) & (F.pmod(h - preload_hours, F.lit(batch_hours)) == batch_hours - 1)
    )
    return F.when(last_hour & drawn(seed, late_pct), part + 1).otherwise(part).cast("int")


def reads_part(windows: list[tuple[int, int]], seed: int, late_pct: int) -> Column:
    """Part 0: everything but the late rows; part i: a seeded ``late_pct``
    of the rows inside hour window ``windows[i-1]``."""
    h = hour_index()
    part = F.lit(0)
    for i, (lo, hi) in reversed(list(enumerate(windows, start=1))):
        part = F.when((h >= lo) & (h < hi) & drawn(seed + i, late_pct), F.lit(i)).otherwise(part)
    return part.cast("int")


def land(staging: str, part: int, raw_dir: str) -> list[str]:
    """Move one part's files into the raw table; returns their new paths."""
    os.makedirs(raw_dir, exist_ok=True)
    out = []
    for i, src in enumerate(sorted(glob.glob(os.path.join(staging, f"part={part}", "*.parquet")))):
        dst = os.path.join(raw_dir, f"part{part:04d}-{i}.parquet")
        os.rename(src, dst)
        out.append(dst)
    return out


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def hour(h: int) -> datetime:
    return BASE + timedelta(hours=h)


def epoch(h: int) -> int:
    """Epoch seconds of hour ``h`` (``BASE`` is UTC)."""
    return int((hour(h) - datetime(1970, 1, 1)).total_seconds())
