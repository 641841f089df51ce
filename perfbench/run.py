#!/usr/bin/env python3
"""Benchmark of the engine's four user paths, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process is one run: it starts a
fresh ``local[nproc]`` Spark JVM through ``rove_spark.session.get_spark``,
sets the workload up from seeded inputs, runs its operations in a closed
loop (one client, next operation after the previous one completes) for
``--seconds``, checks every operation's output for correctness, stops the
JVM and waits for it, and prints one JSON object as the last line of
standard output:

- ``--trace 0``: the end-to-end metrics (``END_TO_END``);
- ``--trace 1``: the per-layer metrics (``layers.per_layer_units``). After
  the same set-up and warm-up, it times untraced and traced operations
  (every layer wrapped in spans, Spark's event log on) in the order
  ``TRACED_ORDER``; ``trace.overhead.<metric>`` is each end-to-end metric
  over the traced operations, with their probes' time taken out, minus
  the same metric over the untraced ones. Then it runs the workload's
  sweeps, every operation traced.

A detailed report (host facts, samples, spans) is written under
``.perfbench_out/``. Workloads and metrics are described in README.md
next to this file.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()
with open("/proc/stat") as _f:
    # machine CPU counters at process start; set-up time is taken
    # relative to them (see sparkenv.cpu_times)
    STAT_PROCESS = _f.readline()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
}
HELD_OUT_SEED = 20261016  # reserved for confirming claims; never tuned on
MAX_CONSECUTIVE_ERRORS = 3
# a run's loop ends after this many times --seconds of wall time, however
# much of it the host stole
MAX_STRETCH = 2.5
# A traced run times untraced (A) and traced (B) operations in the order
# A B B A, so that a steady drift over the JVM's warm-up cancels out of
# their difference; it stops after A B when the first pair already took
# MAX_STRETCH times --seconds. Its sweeps are skipped when the run is
# already SWEEP_DEADLINE_S old, so that it ends within three minutes.
TRACED_ORDER = (False, True, True, False)
SWEEP_DEADLINE_S = 90.0
# times in a sample besides its latency, scaled like it (stream epochs)
OTHER_TIMES = ("drain_wall", "add_batch")


@dataclass
class Ctx:
    repo: Path
    work: Path
    cache: Path
    seed: int
    cores: int
    spark: object = None


def workloads() -> dict:
    from lifecycle import DailyLifecycle, RangeReads
    from online import StreamEpochs, ValidateSpatial

    return {w.name: w for w in (DailyLifecycle, RangeReads, StreamEpochs, ValidateSpatial)}


def run_op(wl, op, tracer=None) -> tuple[list[dict], float]:
    """One operation; returns its samples and its elapsed time with the
    host's CPU steal taken out (``stats.unstolen``).

    Each sample keeps its measured ``wall`` latency and the share of the
    CPU time the machine wanted that the host stole meanwhile
    (``steal_share``); its ``latency`` is the wall time scaled by the
    share not stolen, after taking out the time of the operation's probes
    when traced (one-sample operations only)."""
    import layers
    import sparkenv
    from spans import covered
    from stats import unstolen

    busy0, steal0 = sparkenv.cpu_times()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = op()
        else:
            layers.install(tracer)
            try:
                with tracer.span(getattr(wl, "op_span", wl.op), op=True) as span:
                    tracer.ambient = span
                    try:
                        out = op()
                    finally:
                        tracer.ambient = None
            finally:
                tracer.restore()
            if len(out) == 1:
                out[0]["probe_s"] = covered(span.start, span.end, tracer.probe_time(span))
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        print(f"op failed: {e!r}", file=sys.stderr)
        out = [{"latency": time.perf_counter() - t0, "ok": False, "error": repr(e)}]
    elapsed = time.perf_counter() - t0
    busy1, steal1 = sparkenv.cpu_times()
    busy, steal = busy1 - busy0, steal1 - steal0
    share = unstolen(1.0, busy, steal)
    for s in out:
        s["wall"] = s["latency"]
        s["steal_share"] = 1.0 - share
        s["latency"] = (s["wall"] - s.get("probe_s", 0.0)) * share
        for k in OTHER_TIMES:
            if k in s:
                s[k] *= share
    return out, unstolen(elapsed, busy, steal)


def measure(wl, seconds: float, tracer=None,
            order: tuple[bool, ...] | None = None) -> tuple[list[dict], list[dict]]:
    """Closed loop: whole cycles of the workload's operations until they
    have taken ``seconds`` with the host's CPU steal taken out (at least
    one cycle; at most ``MAX_STRETCH`` times ``seconds`` of wall time).
    With a tracer every operation is traced; with an ``order`` too, the
    loop runs ``len(order)`` operations, traced where ``order`` says so,
    and may stop after an even number of them once time is up. Returns
    the untraced and the traced samples."""
    untraced: list[dict] = []
    traced: list[dict] = []
    errors = n = 0
    spent = 0.0
    wall_limit = time.perf_counter() + MAX_STRETCH * seconds
    while True:
        for op in wl.cycle():
            use = tracer if order is None or order[n] else None
            out, elapsed = run_op(wl, op, use)
            (untraced if use is None else traced).extend(out)
            n += 1
            spent += elapsed
            errors = errors + 1 if any(not s["ok"] for s in out) else 0
            if errors >= MAX_CONSECUTIVE_ERRORS or (order is not None and n == len(order)):
                return untraced, traced
            if order is not None and n % 2 == 0 and time.perf_counter() >= wall_limit:
                return untraced, traced
        if order is None and (spent >= seconds or time.perf_counter() >= wall_limit):
            return untraced, traced


def end_to_end(wl, samples: list[dict]) -> dict:
    from stats import percentile

    good = [s for s in samples if s["ok"]] or samples
    lat = [s["latency"] for s in good]
    if hasattr(wl, "turns_per_s"):
        tps = wl.turns_per_s(good)
    else:
        tps = sum(s.get("turns", 0) for s in good) / sum(lat)
    return {"op_p50_s": percentile(lat, 50), "turns_per_s": tps}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "rove_spark" / "__init__.py").is_file():
        print(f"no rove_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import inputs
    import layers
    import sparkenv
    from spans import Tracer, self_times
    from stats import percentile, supported_percentile, unstolen

    table = workloads()
    if args.workload not in table:
        print(f"unknown workload {args.workload!r}; one of {sorted(table)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    ctx = Ctx(
        repo=ROOT,
        work=ROOT / ".perfbench_work" / run_id,
        cache=ROOT / ".perfbench_cache",
        seed=args.seed,
        cores=cores,
    )
    shutil.rmtree(ctx.work, ignore_errors=True)
    ctx.work.mkdir(parents=True)
    ctx.cache.mkdir(parents=True, exist_ok=True)
    facts = sparkenv.host_facts(ROOT)
    event_log = ctx.work / "eventlog" if args.trace else None
    report: dict = {"run": run_id, "host_start": facts, "held_out_seed": HELD_OUT_SEED}
    wl = None
    spark = None
    try:
        with sparkenv.RssSampler() as rss:
            t = time.perf_counter()
            spark = sparkenv.start_spark(ctx.work, cores, event_log)
            session_start = time.perf_counter() - t
            ctx.spark = spark
            jvm = sparkenv.jvm_pid(spark)
            others = sparkenv.spark_jvms(exclude={jvm} if jvm else set())
            report["other_spark_jvms"] = others
            if others:
                print(f"warning: other Spark JVMs running: {others}", file=sys.stderr)
            wl = table[args.workload](ctx)
            wl.setup()
            # untimed operations while the JIT is still compiling the
            # engine's hot paths; they are checked like the timed ones
            t = time.perf_counter()
            warm = [x for _ in range(wl.WARMUP_OPS) for x in run_op(wl, wl.op_once)[0]]
            warmup = time.perf_counter() - t
            # input generation is untimed; it only runs when the cache is
            # cold. Set-up time has the host's CPU steal taken out as the
            # operations have.
            setup_wall = time.perf_counter() - T_PROCESS - inputs.build_s
            busy, steal = (b - a for a, b in zip(sparkenv.cpu_times(STAT_PROCESS),
                                                 sparkenv.cpu_times()))
            setup_s = unstolen(setup_wall, busy, steal)
            tracer = Tracer(spark.sparkContext) if args.trace else None
            untraced, traced = measure(
                wl, args.seconds, tracer, TRACED_ORDER if args.trace else None,
            )
            swept: list[tuple[object, list[dict]]] = []
            for cls in wl.sweeps if args.trace else ():
                if time.perf_counter() - T_PROCESS > SWEEP_DEADLINE_S:
                    print(f"sweep {cls} skipped: the run is too old", file=sys.stderr)
                    report.setdefault("skipped_sweeps", []).append(cls)
                    continue
                sw = table[cls](ctx)
                sw.setup()
                swept.append((sw, measure(sw, 0, tracer)[1]))
            for w in [wl] + [sw for sw, _ in swept]:
                w.verify()
            extras = wl.layer_extras(traced or untraced)
            for sw, ss in swept:
                extras = {**sw.layer_extras(ss), **{k: v for k, v in extras.items() if v}}
        peak_rss_mb = rss.peak_kb / 1024.0
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        if spark is not None:
            sparkenv.stop_spark(spark)

    samples = warm + untraced + traced + [x for _, ss in swept for x in ss]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    e2e = {"setup_s": setup_s, **end_to_end(wl, untraced), "peak_rss_mb": peak_rss_mb}
    report.update({
        "host_end": {"loadavg": os.getloadavg(), "cpu_steal_s": sparkenv.cpu_steal_s()},
        "setup": {"wall_s": setup_wall, "steal_share": 1.0 - unstolen(1.0, busy, steal),
                  "session_start_s": session_start, "warmup_s": warmup},
        "end_to_end": e2e,
        # the same median without the steal correction
        "op_p50_wall_s": percentile([x["wall"] for x in untraced], 50),
        # the highest percentile this many samples support (None: not even
        # the median has 10 samples beyond it)
        "supported_percentile": supported_percentile(len(untraced)),
        "samples": {"warm": _plain(warm), "untraced": _plain(untraced), "traced": _plain(traced),
                    **{f"sweep:{sw.name}": _plain(ss) for sw, ss in swept}},
    })
    if args.trace:
        import eventlog

        log = eventlog.parse(event_log)
        units = layers.per_layer_units(END_TO_END)
        values = dict.fromkeys(units, 0.0)
        # the workload's own operations first; sweeps fill the layers it
        # never reaches
        for op, ss in [(wl.op, traced)] + [(sw.op, ss) for sw, ss in swept]:
            for k, v in layers.summarize(tracer, log, op, cores, ss).items():
                if not values.get(k):
                    values[k] = v
        for k, v in extras.items():
            if not values.get(k):
                values[k] = v
        values["session.start_s"] = session_start
        values["session.warmup_s"] = warmup
        traced_e2e = {**e2e, **end_to_end(wl, traced)}
        for name in END_TO_END:
            if name not in layers.UNTRACEABLE:
                values[f"trace.overhead.{name}"] = traced_e2e[name] - e2e[name]
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        own = self_times(tracer.spans)
        report["spans"] = [{**s.as_dict(), "self_s": own[s.span_id]} for s in tracer.spans]
        report["per_layer"] = values
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{run_id}.json").write_text(json.dumps(report, indent=1, default=str))
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": facts,
                      "host_end": report["host_end"],
                      "samples": len(untraced), "traced_samples": len(traced),
                      "setup_steal_share": report["setup"]["steal_share"],
                      "other_spark_jvms": report["other_spark_jvms"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _plain(samples: list[dict]) -> list[dict]:
    return [{k: v for k, v in s.items() if k != "params"} for s in samples]


if __name__ == "__main__":
    sys.exit(main())
