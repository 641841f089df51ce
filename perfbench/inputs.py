"""Seeded synthetic inputs, generated with numpy + pyarrow only.

The inputs do not depend on the program under test: nothing here imports
``rove_spark``, so a change to the engine's own generator cannot change
what the benchmark feeds it. The same ``(seed, size)`` always gives the
same bytes, and a finished input directory is cached under that key
(see ``cached``).

Two shapes:

- transcript turns ``(conv_id, ts, role, tool, text_len)``: one row per
  series per ``PERIOD_S`` slot, a seeded share of slots missing, every
  series offset by a fixed number of seconds inside its minute (so
  sub-minute range edges split real rows), occasional 30x spikes and
  flat runs for the QC checks to find. Days are contiguous: day ``k``
  covers ``BASE + k days`` and continues the previous day's turn index.
- located observations ``(conv_id, ts, value, lat, lon, elev)`` for the
  spatial checks: a smooth field over a 58-61N / 5-11E box plus noise
  and one gross error (+-15) per time step at a seeded station, so every
  request window holds the same number of outliers.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# part of every cache key: bump it whenever a generator's output changes
VERSION = 1
# seconds this process spent building cache entries (set-up time excludes it)
build_s = 0.0
BASE = dt.datetime(2024, 1, 1)
PERIOD_S = 60
SLOTS_PER_DAY = 86400 // PERIOD_S
GAP_RATE = 0.1
ROLES = np.array(["user", "assistant", "tool"])

TURN_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("role", pa.string()),
        ("tool", pa.string()),
        ("text_len", pa.int64()),
    ]
)
STATION_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
        ("elev", pa.float64()),
    ]
)


def day_name(k: int) -> str:
    return (BASE + dt.timedelta(days=k)).strftime("%Y-%m-%d")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def turn_rows(seed: int, day: int, n_series: int, series: np.ndarray | None = None) -> pa.Table:
    """All turns of ``day`` (0-based from ``BASE``), or only those of the
    series indices in ``series``."""
    offsets = _rng(seed, 0).integers(0, PERIOD_S, n_series)
    ids = np.arange(n_series) if series is None else np.asarray(series)
    rng = _rng(seed, 1, day)
    n = len(ids) * SLOTS_PER_DAY
    sid = np.repeat(ids, SLOTS_PER_DAY)
    slot = np.tile(np.arange(SLOTS_PER_DAY), len(ids))
    keep = rng.random(n) >= GAP_RATE
    base_len = 20 + rng.integers(0, 40, n)
    spike = rng.random(n) < 0.02
    # flat runs: whole 16-slot blocks repeat one length
    block = slot // 16
    flat_block = rng.random((len(ids), SLOTS_PER_DAY // 16 + 1)) < 0.05
    flat_len = 20 + rng.integers(0, 40, (len(ids), SLOTS_PER_DAY // 16 + 1))
    row = np.repeat(np.arange(len(ids)), SLOTS_PER_DAY)
    in_flat = flat_block[row, block]
    text_len = np.where(spike, base_len * 30, np.where(in_flat, flat_len[row, block], base_len))
    role = ROLES[rng.integers(0, 3, n)]
    tool = np.where(role == "tool", np.char.add("tool_", rng.integers(0, 8, n).astype(str)), None)
    secs = day * 86400 + slot * PERIOD_S + offsets[sid]
    ts = np.datetime64(BASE, "us") + secs.astype("timedelta64[s]")
    conv = np.char.add("conv-", np.char.zfill(sid.astype(str), 4))
    return pa.table(
        {
            "conv_id": conv[keep],
            "ts": ts[keep],
            "role": role[keep],
            "tool": tool[keep],
            "text_len": text_len[keep].astype(np.int64),
        },
        schema=TURN_SCHEMA,
    )


def station_rows(seed: int, n_stations: int, n_steps: int, step_s: int) -> pa.Table:
    """Located observations: ``n_stations`` fixed sites, ``n_steps``
    timestamps ``step_s`` apart from ``BASE``."""
    rs = _rng(seed, 2)
    lat = rs.uniform(58.0, 61.0, n_stations)
    lon = rs.uniform(5.0, 11.0, n_stations)
    elev = rs.uniform(0.0, 800.0, n_stations)
    rng = _rng(seed, 3)
    t = np.arange(n_steps)
    field = (
        5.0
        + 3.0 * np.sin(2 * np.pi * t[None, :] * step_s / 86400.0)
        - 0.0065 * elev[:, None]
        + 0.8 * (lat[:, None] - 59.5)
    )
    value = field + rng.normal(0.0, 0.4, (n_stations, n_steps))
    bad = rng.integers(0, n_stations, n_steps)
    value[bad, t] += rng.choice([-15.0, 15.0], n_steps)
    sid = np.repeat(np.arange(n_stations), n_steps)
    ts = np.datetime64(BASE, "us") + (np.tile(t, n_stations) * step_s).astype("timedelta64[s]")
    return pa.table(
        {
            "conv_id": np.char.add("stn-", np.char.zfill(sid.astype(str), 4)),
            "ts": ts,
            "value": value.ravel(),
            "lat": lat[sid],
            "lon": lon[sid],
            "elev": elev[sid],
        },
        schema=STATION_SCHEMA,
    )


def cached(cache_root: Path, key: str, build) -> Path:
    """Directory ``cache_root/v<VERSION>-key``, built once by
    ``build(tmp_dir)`` and published by an atomic rename; a half-built
    directory is discarded."""
    final = cache_root / f"v{VERSION}-{key}"
    if final.is_dir():
        return final
    tmp = cache_root / f".{key}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    global build_s
    t0 = time.perf_counter()
    build(tmp)
    build_s += time.perf_counter() - t0
    try:
        tmp.rename(final)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
