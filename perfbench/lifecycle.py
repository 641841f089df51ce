"""``daily_lifecycle`` and ``range_reads``: the batch job and the read
path over the store it builds.

Both start from a day-partitioned raw input (``SourceDays``) ingested
by ``Engine.run_job`` under a retention policy that compacts raw days
into the Gorilla cold tier and expires old 1m days.
"""

from __future__ import annotations

import datetime as dt
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import inputs
from spans import noop

PIPELINE = "transcripts_pt1m"
STATS = ("n_turns", "text_len_sum", "text_len_min", "text_len_max")


def _dir_bytes(root: Path) -> int:
    return sum(f.stat().st_size for f in root.rglob("*") if f.is_file())


class _Store:
    """Raw input directory + the store ``run_job`` writes, under ``root``."""

    def __init__(self, ctx, root: Path, n_series: int, raw_keep: int, m1_keep: int | None):
        from rove_spark.plans.engine import Engine

        self.ctx = ctx
        self.root = root
        self.raw = root / "raw"
        self.out = root / "store"
        self.n_series = n_series
        self.raw_keep = raw_keep
        self.m1_keep = m1_keep
        self.engine = Engine(ctx.spark, pipeline_dir=ctx.repo / "pipelines")

    def land(self, source: "SourceDays", day: int) -> None:
        shutil.copytree(source.day(day), self.raw / f"day={inputs.day_name(day)}")

    def retention(self, day: int) -> dict:
        ret = {"raw": inputs.day_name(day - self.raw_keep + 1)}
        if self.m1_keep is not None:
            ret["1m"] = inputs.day_name(day - self.m1_keep + 1)
        return ret

    def run_job(self, day: int) -> dict:
        df = self.ctx.spark.read.parquet(str(self.raw)).drop("day")
        return self.engine.run_job(
            df, PIPELINE, self.out, input_fingerprint="perfbench",
            retention=self.retention(day), input_path=self.raw,
        )


class SourceDays:
    """The seeded input, one cached directory per day, generated the first
    time a run lands that day; ``counts[k]`` is day ``k``'s row count."""

    def __init__(self, ctx, n_series: int):
        self.ctx = ctx
        self.n_series = n_series
        self.counts: dict[int, int] = {}

    def day(self, k: int) -> Path:
        seed, n = self.ctx.seed, self.n_series
        path = inputs.cached(
            self.ctx.cache, f"turns-s{seed}-n{n}-day{k}",
            lambda d: pq.write_table(inputs.turn_rows(seed, k, n), d / "part-0.parquet"),
        )
        if k not in self.counts:
            self.counts[k] = pq.ParquetFile(path / "part-0.parquet").metadata.num_rows
        return path


def tier_day_sums(spark, out: Path) -> dict[str, dict[str, int]]:
    """tier -> day -> summed ``n_turns`` (base tiers only)."""
    from pyspark.sql import functions as F

    sums = {}
    for tier in ("1m", "1h", "1d"):
        path = out / f"tier_{tier}"
        if not path.is_dir():
            sums[tier] = {}
            continue
        rows = (
            spark.read.parquet(str(path)).groupBy("day")
            .agg(F.sum("n_turns").alias("n")).collect()
        )
        sums[tier] = {str(r["day"]): int(r["n"]) for r in rows}
    return sums


class DailyLifecycle:
    """Timed op: land day ``k`` in the raw input, then one
    ``run_job`` with retention. Each op computes day ``k``, re-flags day
    ``k-1``, compacts raw day ``k-RAW_KEEP`` into the cold tier and
    expires 1m day ``k-M1_KEEP``."""

    name = "daily_lifecycle"
    op = "run_job"
    sweeps = ("range_reads",)
    N_SERIES = 8
    HISTORY = 3
    RAW_KEEP = 2
    M1_KEEP = 3
    # daily jobs run untimed after the history build, while the JIT is
    # still compiling the job's hot paths
    WARMUP_OPS = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: list[dict] = []

    def setup(self) -> None:
        """Builds the first ``HISTORY`` days with one ``run_job``."""
        self.src = SourceDays(self.ctx, self.N_SERIES)
        self.counts = self.src.counts
        self.store = _Store(self.ctx, self.ctx.work / "daily", self.N_SERIES,
                            self.RAW_KEEP, self.M1_KEEP)
        for k in range(self.HISTORY):
            self.store.land(self.src, k)
        self.store.run_job(self.HISTORY - 1)
        self.next_day = self.HISTORY

    def cycle(self) -> list:
        return [self.op_once]

    def op_once(self) -> list[dict]:
        k = self.next_day
        self.store.land(self.src, k)
        t0 = time.perf_counter()
        res = self.store.run_job(k)
        wall = time.perf_counter() - t0
        self.next_day += 1
        ok = (
            res["computed"] == [inputs.day_name(k - 1), inputs.day_name(k)]
            and res["expired"]["raw"]["compacted"] == [inputs.day_name(k - self.RAW_KEEP)]
        )
        s = {"latency": wall, "day": k, "turns": self.counts[k], "ok": ok}
        self.samples.append(s)
        return [s]

    def verify(self) -> None:
        """Tier ``n_turns`` sums equal the generated turn count of every
        day each op computed (1m only for days not yet expired)."""
        sums = tier_day_sums(self.ctx.spark, self.store.out)
        expired_1m = self.next_day - 1 - self.M1_KEEP
        for s in self.samples:
            for k in (s["day"] - 1, s["day"]):
                name = inputs.day_name(k)
                for tier in ("1h", "1d") + (("1m",) if k > expired_1m else ()):
                    if sums[tier].get(name) != self.counts[k]:
                        s["ok"] = False

    def layer_extras(self, samples: list[dict]) -> dict:
        from pyspark.sql import functions as F

        chunks = self.store.out / "chunks_raw"
        turns = sum(self.counts[k] for k in range(self.next_day))
        out = {"sources.tables.store_bytes_per_turn": _dir_bytes(self.store.out) / turns}
        if chunks.is_dir():
            row = (
                self.ctx.spark.read.parquet(str(chunks))
                .agg(
                    F.sum(F.length("ts_codec") + F.length("val_codec") + F.length("presence")).alias("b"),
                    F.sum("n_points").alias("p"),
                )
                .first()
            )
            out["operators.gorilla.bytes_per_point"] = row["b"] / row["p"]
        return out


# --------------------------------------------------------------- reads --

CLASSES = ("interior", "single", "hot_edge", "cold_edge")


class RangeReads:
    """Timed op: one ``Engine.query_range`` written to the noop sink; a
    cycle is one read of each class, in seeded order:

    - ``interior``: whole days, served by the 1d tier;
    - ``single``: one series (``series_ids``), minute-aligned edges;
    - ``hot_edge``: ragged sub-minute edges on days still in raw;
    - ``cold_edge``: a ragged edge inside a compacted day (Gorilla decode)
      and one on a raw day.

    The store: ``HISTORY`` days through ``run_job`` with the first
    ``COMPACTED`` days compacted into the cold tier, plus ``LATE_BATCHES``
    ``ingest_late`` increment batches of extra turns on hot days (the
    same rows are added to the hot raw table)."""

    name = "range_reads"
    op = "query_range"
    sweeps = ()
    N_SERIES = 8
    HISTORY = 6
    COMPACTED = 2
    LATE_BATCHES = 2
    WARMUP_OPS = 0  # set-up ends with a warm-up read

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: list[dict] = []
        self.rng = np.random.default_rng([ctx.seed, 7])

    # -- store ---------------------------------------------------------------
    def _late_rows(self, b: int):
        """Batch ``b``: every turn of a few series on one hot day, shifted
        by 30 s (new timestamps, same series)."""
        import pyarrow as pa

        rng = np.random.default_rng([self.ctx.seed, 8, b])
        day = self.COMPACTED + 1 + b
        ids = rng.choice(self.N_SERIES, 3, replace=False)
        t = inputs.turn_rows(self.ctx.seed + 1000 + b, day, self.N_SERIES, series=ids)
        ts = t.column("ts").cast(pa.int64()).to_numpy() + 30_000_000
        return day, t.set_column(1, "ts", pa.array(ts, pa.int64()).cast(t.schema.field("ts").type))

    def _build(self, root: Path) -> _Store:
        store = _Store(self.ctx, root, self.N_SERIES, self.HISTORY - self.COMPACTED, None)
        for k in range(self.HISTORY):
            store.land(self.src, k)
        store.run_job(self.HISTORY - 1)
        spark = self.ctx.spark
        for b in range(self.LATE_BATCHES):
            day, rows = self._late_rows(b)
            path = store.raw / f"day={inputs.day_name(day)}" / f"late-{b}.parquet"
            pq.write_table(rows, path)
            delta = spark.read.parquet(str(path))
            store.engine.ingest_late(delta, PIPELINE, store.out, batch_id=f"late{b}")
        return store

    def setup(self) -> None:
        import pandas as pd

        self.src = SourceDays(self.ctx, self.N_SERIES)
        store = self.store = self._build(self.ctx.work / "reads")
        self.hot = self.ctx.spark.read.parquet(str(store.raw)).drop("day")
        # the program-independent truth: every generated row, late ones too
        parts = [inputs.turn_rows(self.ctx.seed, k, self.N_SERIES).to_pandas() for k in range(self.HISTORY)]
        parts += [self._late_rows(b)[1].to_pandas() for b in range(self.LATE_BATCHES)]
        truth = pd.concat(parts, ignore_index=True)
        truth["ts"] = truth["ts"].dt.tz_localize(None)
        self.truth = truth
        self.pending: list[dict] = []  # the first read of each class
        noop(self._query(self._params("cold_edge")))  # warm-up: Python workers, codegen

    # -- ops -------------------------------------------------------------------
    def _params(self, cls: str) -> dict:
        r = self.rng
        day = lambda k: inputs.BASE + dt.timedelta(days=int(k))  # noqa: E731

        def ragged(k):
            return day(k) + dt.timedelta(
                hours=int(r.integers(0, 24)), minutes=int(r.integers(0, 60)),
                seconds=int(r.integers(1, 60)),
            )

        def minute(k):
            return day(k) + dt.timedelta(hours=int(r.integers(0, 24)), minutes=int(r.integers(0, 60)))

        last = self.HISTORY - 1
        c = self.COMPACTED
        if cls == "interior":
            a = int(r.integers(1, c + 1))
            return {"start": day(a), "end": day(int(r.integers(a + 3, last + 1)))}
        if cls == "single":
            a = int(r.integers(0, last - 2))
            return {
                "start": minute(a), "end": minute(int(r.integers(a + 2, last + 1))),
                "series_ids": [f"conv-{int(r.integers(0, self.N_SERIES)):04d}"],
            }
        if cls == "hot_edge":
            a = int(r.integers(c, last))
            return {"start": ragged(a), "end": ragged(int(r.integers(a + 1, last + 1)))}
        a = int(r.integers(0, c))
        return {"start": ragged(a), "end": ragged(int(r.integers(c + 1, last + 1)))}

    def cycle(self) -> list:
        order = self.rng.permutation(len(CLASSES))
        return [lambda cls=CLASSES[i]: self.op_once(cls) for i in order]

    def _query(self, p: dict):
        return self.store.engine.query_range(
            self.store.out, p["start"], p["end"], hot_df=self.hot,
            series_ids=p.get("series_ids"),
        )

    def op_once(self, cls: str) -> list[dict]:
        p = self._params(cls)
        t0 = time.perf_counter()
        noop(self._query(p))
        s = {"latency": time.perf_counter() - t0, "class": cls, "params": p, "ok": True}
        want = self.expected(p)
        s["turns"] = sum(v[0] for v in want.values())
        s["rows_out"] = len(want)
        self.samples.append(s)
        if cls not in {x["class"] for x in self.pending}:
            self.pending.append(s)
        return [s]

    def expected(self, p: dict) -> dict:
        t = self.truth
        m = (t["ts"] >= p["start"]) & (t["ts"] < p["end"])
        if p.get("series_ids"):
            m &= t["conv_id"].isin(p["series_ids"])
        g = t[m].groupby("conv_id")["text_len"].agg(["count", "sum", "min", "max"])
        return {cid: tuple(int(v) for v in row) for cid, row in g.iterrows()}

    def verify(self) -> None:
        """The first read of every class equals the per-series aggregate
        of the generated rows."""
        for s in self.pending:
            got = {
                r["conv_id"]: tuple(int(r[c]) for c in STATS)
                for r in self._query(s["params"]).collect()
            }
            s["ok"] = got == self.expected(s["params"])

    def layer_extras(self, samples: list[dict]) -> dict:
        return {
            "sources.tables.store_bytes_per_turn":
                _dir_bytes(self.store.out) / len(self.truth),
        }
