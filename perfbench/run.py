"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The load is a closed loop with one caller on
a ``local[nproc]`` session: each call waits for its result before the next
starts. A run generates its inputs if missing (not timed), then sets up
cold -- JVM launch, session start, opening the inputs and the first unit of
work, timed from the launch of this process -- runs the workload's warm-up
units (checked, not timed), and then repeats its unit of work for
``--seconds``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- BENCHMARK.json's ``end_to_end`` metrics with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. A traced run
alternates traced and untraced units in its window, so the difference of
their medians is the tracing overhead, and then runs the workload's traced
stages (``workloads.TRACED_STAGES``). Every sample, the host context and
the per-layer breakdown go to ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_LAUNCH = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CALL_KINDS = ("typed", "screened", "interpreted")
STAGE_UNITS = 2  # traced units of a traced stage


def end_to_end_metrics(setup_s: float, walls: list[float], rows: int) -> dict:
    run_s = statistics.median(walls)
    return {"setup_s": setup_s, "run_s": run_s, "rows_per_s": rows / run_s}


def run_context(calls, attempted: int, failed: int, host: dict, probe_s: float) -> dict:
    """Per-kind call latencies, the call tail with its percentile and sample
    count, the failure share and the host context: recorded with every run.

    The tail is the slowest call of the window. A percentile with ten
    samples beyond it needs eleven calls; a run makes about six
    (code_pipeline) or twelve (small_calls), so that percentile would fall
    among the fastest calls."""
    ctx = {
        f"{kind}_call_s": statistics.median([c.seconds for c in calls if c.kind == kind] or [0.0])
        for kind in CALL_KINDS
    }
    return ctx | {
        "failed_frac": failed / attempted,
        "call_tail_s": max(c.seconds for c in calls),
        "call_tail.pct": 100.0,
        "call_tail.n": float(len(calls)),
        "host.nproc": float(host["nproc"]),
        "host.ram_gb": host["ram_gb"],
        "host.probe_s": probe_s,
        "host.load_1m": os.getloadavg()[0],
    }


def mean_layers(traced: list, store: dict) -> dict:
    """The mean over traced units of each layer metric."""
    from perfbench import trace

    rows = [trace.layer_metrics(u, store) | trace.unit_extra(u) for u in traced]
    return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}


def per_layer_metrics(cold, traced: list, store: dict, traced_walls: list[float],
                      plain_walls: list[float], context: dict, stages: dict | None = None) -> dict:
    """The traced run's breakdown: the mean over traced units of each
    layer metric, the cold unit's screen compile, the tracing overhead and
    the run context; ``stages`` (layer prefix -> traced stage units) give
    the metrics of their layer."""
    from perfbench import trace

    out = mean_layers(traced, store)
    for prefix, units in (stages or {}).items():
        out |= {k: v for k, v in mean_layers(units, store).items() if k.startswith(prefix)}
    out["jsonscreen.compile_s"] = trace.span_seconds(cold, "jsonscreen.compile")
    out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(plain_walls)
    return out | context


def select(spec: list[dict], values: dict) -> dict:
    """BENCHMARK.json's metrics, by name, from ``values``; a missing one is
    an error, not a zero."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "yaschva_spark" / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no yaschva_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import host as hostmod
    from perfbench import trace as tracing
    from perfbench.workloads import TRACED_STAGES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    host = hostmod.fit_host()
    w = WORKLOADS[args.workload](hostmod.WORK / "data", hostmod.WORK / "out", args.seed)
    traced_run = args.trace == 1
    attempted = failed = 0

    def run_unit(spark, tr, ut, wl=w):
        nonlocal attempted, failed
        try:
            return wl.unit(spark, tr, ut)
        except Exception:
            traceback.print_exc()
            attempted, failed = attempted + 1, failed + 1
            return []

    def settle(calls, wl=w) -> None:
        nonlocal attempted, failed
        attempted += len(calls)
        failed += sum(not wl.check(c) for c in calls)

    # set-up: one cold JVM per process, so setup_s holds the JVM launch,
    # the JIT and the cold compiles; input generation is left out (the code
    # table is written by this session, so code_pipeline's first call runs
    # on a JVM its generation has warmed)
    spark = hostmod.start_session()
    try:
        t0 = time.monotonic()
        w.generate(spark)
        gen_s = time.monotonic() - t0
        tracer = tracing.Tracer(spark) if traced_run else tracing.NULL_TRACER
        if traced_run:
            tracer.install()
        w.open(spark)
        with tracer.unit(traced_run) as cold:
            cold_calls = run_unit(spark, tracer, cold)
        setup_s = time.monotonic() - T_LAUNCH - gen_s

        marks = {"gen_s": gen_s, "setup_s": setup_s}
        t0 = time.monotonic()
        w.expect()
        settle(cold_calls)
        marks["check_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        for _ in range(w.warmup):
            settle(run_unit(spark, tracer, None))
        marks["warmup_s"] = time.monotonic() - t0

        units = []  # (wall seconds, calls, UnitTrace or None)
        t_end = time.monotonic() + args.seconds
        # start a unit while at least half of a typical one fits the window
        while len(units) < 2 or time.monotonic() < t_end - statistics.median(u for u, _, _ in units) / 2:
            traced = traced_run and len(units) % 2 == 0
            t1 = time.perf_counter()
            with tracer.unit(traced) as ut:
                calls = run_unit(spark, tracer, ut)
            units.append((time.perf_counter() - t1, calls, ut))
            settle(calls)

        marks["window_s"] = sum(u for u, _, _ in units)
        probe_s = hostmod.host_probe()
        calls = [c for _, cs, _ in units for c in cs]
        walls = [u for u, _, _ in units]
        end_to_end = end_to_end_metrics(setup_s, walls, w.rows)
        stages = {}  # layer prefix -> traced units of that layer's stage
        if traced_run and args.workload in TRACED_STAGES:
            t0 = time.monotonic()
            s = TRACED_STAGES[args.workload](hostmod.WORK / "data", hostmod.WORK / "out", args.seed)
            s.generate(spark)
            s.expect()
            s.open(spark)
            for _ in range(1 + s.warmup):  # its cold unit and warm-up, untraced
                settle(run_unit(spark, tracer, None, s), s)
            stages[s.layer_prefix] = []
            for _ in range(STAGE_UNITS):
                with tracer.unit(True) as ut:
                    settle(run_unit(spark, tracer, ut, s), s)
                stages[s.layer_prefix].append(ut)
            marks["stages_s"] = time.monotonic() - t0
        context = run_context(calls, attempted, failed, host, probe_s)
        per_layer = {}
        if traced_run:
            traced = [ut for _, _, ut in units if ut is not None]
            store = tracer.read_store(
                [(u.start, u.end) for u in [cold, *traced, *(u for us in stages.values() for u in us)]])
            per_layer = per_layer_metrics(
                cold, traced, store,
                [u for u, _, ut in units if ut is not None], [u for u, _, ut in units if ut is None],
                context, stages,
            )
    finally:
        hostmod.stop_session(spark)

    results = hostmod.WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "marks": marks, "end_to_end": end_to_end, "context": context,
        "per_layer": per_layer, "unit_walls_s": walls,
        "calls": [{"kind": c.kind, "seconds": c.seconds} for c in calls],
        "attempted": attempted, "failed": failed,
    }, indent=1))
    metrics = select(spec["per_layer"], per_layer) if traced_run else select(spec["end_to_end"], end_to_end)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
