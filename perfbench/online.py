"""``stream_epochs`` and ``validate_spatial``: the two request-sized
paths, where fixed per-call costs dominate.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import inputs
from lifecycle import PIPELINE
from stats import percentile

STREAM_SCHEMA = "conv_id string, ts timestamp, role string, tool string, text_len long"
MERGEABLE = ("n_turns", "text_len_sum", "text_len_min", "text_len_max", "n_tool_calls")


class StreamEpochs:
    """Timed op: one drain of a backlog of ``FILES_PER_DRAIN`` epoch
    files by ``stream_ingest_tiers`` (available-now trigger, one file per
    trigger, the ``transcripts_pt1m`` QC pipeline as ``transform``).
    Every drain restarts the same checkpoint, so epoch ids and the
    increment manifests keep growing across drains as in one long-lived
    stream. A sample is one epoch."""

    name = "stream_epochs"
    op = "epoch"
    op_span = "drain"
    sweeps = ()
    N_SERIES = 16
    SERIES_PER_FILE = 4
    FILES_PER_DRAIN = 4
    WARMUP_FILES = 1
    WARMUP_OPS = 0  # set-up drains the warm-up files

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: list[dict] = []
        self.files: list[tuple[Path, int, int]] = []  # (path, day, series group)

    def setup(self) -> None:
        from rove_spark.plans.engine import Engine

        self.src = self.ctx.work / "stream_src"
        self.src.mkdir(parents=True)
        self.out = self.ctx.work / "stream_store"
        self.ckpt = self.ctx.work / "stream_ckpt"
        self.engine = Engine(self.ctx.spark, pipeline_dir=self.ctx.repo / "pipelines")
        self.checks = [s.name for s in self.engine.pipelines[PIPELINE].steps]
        self._drain(self.WARMUP_FILES)  # Python workers, codegen, first epochs

    def _transform(self, df):
        return self.engine.run_pipeline(df, PIPELINE, "text_len", "conv_id", ("ts",))

    def _feed(self, n: int) -> int:
        """Write the next ``n`` backlog files; returns their row count."""
        per_day = self.N_SERIES // self.SERIES_PER_FILE
        rows = 0
        for _ in range(n):
            i = len(self.files)
            day, grp = divmod(i, per_day)
            ids = np.arange(grp * self.SERIES_PER_FILE, (grp + 1) * self.SERIES_PER_FILE)
            t = inputs.turn_rows(self.ctx.seed, day, self.N_SERIES, series=ids)
            path = self.src / f"epoch-{i:05d}.parquet"
            pq.write_table(t, path)
            self.files.append((path, day, grp))
            rows += t.num_rows
        return rows

    def _drain(self, n_files: int) -> tuple[float, int, list]:
        from rove_spark.streaming.ingest import stream_ingest_tiers

        rows = self._feed(n_files)
        spark = self.ctx.spark
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.src))
        )
        q = stream_ingest_tiers(
            stream, self.out, self.ckpt, stream_id="perfbench",
            transform=self._transform, checks=self.checks,
            text_len_source="text_len", tool_col="tool", role_col="role",
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        epochs = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        return wall, rows, epochs

    def cycle(self) -> list:
        return [self.op_once]

    def op_once(self) -> list[dict]:
        wall, rows, epochs = self._drain(self.FILES_PER_DRAIN)
        out = []
        for p in epochs:
            d = p["durationMs"]
            out.append({
                "latency": d["triggerExecution"] / 1000.0,
                "add_batch": d.get("addBatch", 0) / 1000.0,
                "rows": p["numInputRows"],
                "ok": True,
            })
        # drain wall and rows ride on the first epoch of the drain
        if out:
            out[0]["drain_wall"] = wall
            out[0]["drain_rows"] = rows
        self.samples.extend(out)
        return out

    def verify(self) -> None:
        """Mergeable tier stats read back from the increments equal a
        batch ``build_tiers`` over the same epoch files; an epoch fails
        when its file's (day, series) rows differ."""
        from pyspark.sql import functions as F

        from rove_spark.operators.rollup import build_tiers, read_tier
        from rove_spark.sources.tables import PartitionedTable

        spark = self.ctx.spark
        raw = spark.read.schema(STREAM_SCHEMA).parquet(*[str(f[0]) for f in self.files])
        batch = build_tiers(raw, text_len_source="text_len", persist=False)
        bad: set[tuple[str, str]] = set()
        keys = ["conv_id", "bucket_ts", "role"]
        for tier, want in batch.items():
            inc = PartitionedTable(self.out / f"tier_{tier}_inc", ["day", "batch"])
            got = read_tier(spark, None, inc, tier).select(*keys, *MERGEABLE)
            want = want.select(*keys, *MERGEABLE)
            diff = got.exceptAll(want).unionByName(want.exceptAll(got))
            for r in diff.select(
                "conv_id", F.date_format("bucket_ts", "yyyy-MM-dd").alias("d")
            ).distinct().collect():
                bad.add((r["conv_id"], r["d"]))
        if bad:
            bad_files = {
                i for i, (_, day, grp) in enumerate(self.files)
                if any(
                    (f"conv-{s:04d}", inputs.day_name(day)) in bad
                    for s in range(grp * self.SERIES_PER_FILE, (grp + 1) * self.SERIES_PER_FILE)
                )
            }
            # one file per epoch, in feed order: mark that many epochs failed
            for s in self.samples[: len(bad_files)]:
                s["ok"] = False

    def turns_per_s(self, samples: list[dict]) -> float:
        """Backlog turns over drain wall time (query start to end)."""
        drains = [s for s in samples if "drain_wall" in s]
        return sum(s["drain_rows"] for s in drains) / sum(s["drain_wall"] for s in drains)

    def layer_extras(self, samples: list[dict]) -> dict:
        add = [s["add_batch"] for s in samples]
        over = [s["latency"] - s["add_batch"] for s in samples]
        snaps = []
        for tier in ("1m", "1h", "1d"):
            m = self.out / f"tier_{tier}_inc" / "_rove_manifest.json"
            if m.is_file():
                snaps.append(len(json.loads(m.read_text())["snapshots"]))
        return {
            "streaming.ingest.add_batch_s": percentile(add, 50),
            "streaming.ingest.trigger_overhead_s": percentile(over, 50),
            "streaming.ingest.manifest_snapshots": sum(snaps) / max(1, len(snaps)),
        }


# ------------------------------------------------------------ validate --

STATION_STEP_S = 600
N_STEPS = 6 * 24 * 2


def spatial_pipeline():
    """Window checks plus ``buddy_check`` and ``sct`` over a
    temperature-like signal; owned by the benchmark."""
    from rove_spark.config import Pipeline, PipelineStep

    return Pipeline(
        name="spatial_qc",
        steps=(
            PipelineStep("step_check", "step_check", {"max": 6.0}),
            PipelineStep("spike_check", "spike_check", {"max": 6.0}),
            PipelineStep("flatline_check", "flatline_check", {"max": 5}),
            PipelineStep(
                "buddy_check", "buddy_check",
                {"radius": 60000.0, "num_min": 3, "threshold": 2.0, "num_iterations": 2},
            ),
            PipelineStep(
                "sct", "sct",
                {"num_min": 5, "num_max": 30, "inner_radius": 50000.0,
                 "outer_radius": 120000.0, "num_iterations": 2},
            ),
        ),
    )


class ValidateSpatial:
    """Timed op: one ValidateRequest over HTTP to ``service.serve``,
    from send to the last NDJSON chunk. Requests cover ``WINDOW_STEPS``
    ten-minute timestamps of every station, at seeded start times."""

    name = "validate_spatial"
    op = "validate"
    op_span = "validate"
    sweeps = ("stream_epochs",)
    N_STATIONS = 60
    WINDOW_STEPS = 6
    CHECKED = 2
    # requests sent untimed after the service starts, while the JIT is
    # still compiling the request's hot paths
    WARMUP_OPS = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: list[dict] = []
        self.rng = np.random.default_rng([ctx.seed, 9])
        self.server = None

    def setup(self) -> None:
        """Starts the service: switch, engine and HTTP server."""
        from rove_spark.plans.engine import Engine
        from rove_spark.service import RoveService, serve
        from rove_spark.sources.switch import DataSwitch

        key = f"stations-s{self.ctx.seed}-n{self.N_STATIONS}-t{N_STEPS}"
        self.source = inputs.cached(
            self.ctx.cache, key,
            lambda d: pq.write_table(
                inputs.station_rows(self.ctx.seed, self.N_STATIONS, N_STEPS, STATION_STEP_S),
                d / "part-0.parquet",
            ),
        )
        self.pending: list[dict] = []
        frame = self.ctx.spark.read.parquet(str(self.source))
        self.switch = DataSwitch()
        self.switch.register("stations", lambda: frame)
        self.engine = Engine(self.ctx.spark, pipelines={"spatial_qc": spatial_pipeline()})
        self.server = serve(RoveService(self.switch, self.engine, value_col="value"))

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def _body(self) -> dict:
        k = int(self.rng.integers(0, N_STEPS - self.WINDOW_STEPS))
        start = inputs.BASE + dt.timedelta(seconds=k * STATION_STEP_S)
        end = start + dt.timedelta(seconds=(self.WINDOW_STEPS - 1) * STATION_STEP_S)
        return {
            "data_source": "stations",
            "start_time": start.isoformat() + "Z",
            "end_time": end.isoformat() + "Z",
            "time_resolution": "PT10M",
            "pipeline": "spatial_qc",
        }

    def _request(self, body: dict) -> dict:
        host, port = self.server.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=120)
        payload = json.dumps(body).encode()
        try:
            t0 = time.perf_counter()
            conn.request("POST", "/validate", body=payload,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            t1 = time.perf_counter()
            done_at = time.time()
        finally:
            conn.close()
        lines = [json.loads(x) for x in data.decode().splitlines() if x] if resp.status == 200 else []
        return {
            "latency": t1 - t0, "status": resp.status, "bytes": len(data),
            "responses": lines, "done_at": done_at,
        }

    def cycle(self) -> list:
        return [self.op_once]

    def op_once(self) -> list[dict]:
        body = self._body()
        r = self._request(body)
        s = {
            "latency": r["latency"], "bytes": r["bytes"], "done_at": r["done_at"],
            "ok": r["status"] == 200 and len(r["responses"]) == 5, "body": body,
            "turns": self.N_STATIONS * self.WINDOW_STEPS,
        }
        if len(self.pending) < self.CHECKED:
            s["responses"] = r["responses"]
            self.pending.append(s)
        self.samples.append(s)
        return [s]

    def verify(self) -> None:
        """Sampled responses equal ``melt_flags(run_pipeline(fetch(...)))``
        computed directly, flag for flag."""
        from rove_spark.plans.engine import melt_flags
        from rove_spark.service import parse_validate_request

        for s in self.pending:
            req = parse_validate_request(s["body"])
            df = self.switch.fetch("stations", time_spec=req["time_spec"], space_spec=req["space_spec"])
            flagged = self.engine.run_pipeline(df, "spatial_qc", value_col="value")
            checks = [st.name for st in spatial_pipeline().steps]
            want = {
                (r["test"], str(r["identifier"]), r["time"].isoformat() + "Z"): int(r["flag"])
                for r in melt_flags(flagged, checks).collect()
            }
            got = {
                (o["test"], x["identifier"], x["time"]): x["flag"]
                for o in s["responses"] for x in o["results"]
            }
            s["ok"] = s["ok"] and got == want and len(want) > 0
            s.pop("responses")

    def layer_extras(self, samples: list[dict]) -> dict:
        return {"service.response_bytes": sum(s["bytes"] for s in samples) / max(1, len(samples))}
