"""Exposure-API benchmark: seeded closed-loop workloads through the public
``greenex_py_spark.api`` functions.

    python3 perfbench/run.py --workload python_kernels --seed 1 --seconds 10 --trace 0

After three set-ups, a cold pass that also checks every output, a
re-execution of its plans whose output digests must repeat, and untimed
warm-up passes, one driver thread issues the workload's calls back to
back, each to a finished ``noop`` write, for ``--seconds`` seconds at
``local[<cores>]``.  ``--trace 1`` instead runs each call untraced, then
with job-group and SQL-status-store counters, then with a span around
every layer function (see layers.py), and writes the spans to
``.perfbench/out/``.  NOTES.md describes the workloads and metrics.

Every line but the last is for people; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

SETUP_ROUNDS = 3      # set-ups per run; setup_s is their median
WARM_PASSES = 1       # untimed passes after the cold one, at least
WARMUP_S = 15.0       # and until this much running, the checked passes included
MIN_PASSES = 2        # timed passes per run, even past --seconds

# (name, unit, description); the same names are in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "session (re)start + seeded tables created and checkpointed; "
                     f"median of {SETUP_ROUNDS} set-ups, the first launches the JVM"),
    ("pass_cpu_s", "s", "CPU seconds of the driver, the JVM and the Python workers per warm "
                        "pass, the JIT compiler threads left out"),
    ("peak_rss_mb", "MB", "peak RSS of the driver process tree during the timed passes"),
]
# printed with the end-to-end metrics but not in BENCHMARK.json: wall time
# on a shared host moves with the neighbours' load far more than CPU time
WALL = [
    ("pass_s", "s", "one warm pass: the workload's calls back to back, each to a noop write"),
    ("pois_per_s", "1/s", "PoIs x calls / pass_s"),
]
PER_LAYER = [
    ("session.start_s", "s", "get_spark, median over the set-ups"),
    ("api.build_s", "s", "time until the api calls return, summed over the calls"),
    ("api.eager_jobs", "count", "jobs launched before the api calls return"),
    ("spark.jobs", "count", "jobs of the calls, build and execute"),
    ("spark.sql_execs", "count", "SQL executions of the calls"),
    ("spark.shuffle_write_mb", "MB", "Exchange shuffle bytes written"),
    ("spark.shuffle_read_mb", "MB", "Exchange local + remote bytes read"),
    ("spark.broadcast_mb", "MB", "BroadcastExchange data size"),
    ("spark.spill_mb", "MB", "spill size of all nodes"),
    ("py.sent_mb", "MB", "data sent to Python workers by Arrow nodes"),
    ("py.returned_mb", "MB", "data returned from Python workers"),
    ("py.run_share", "ratio", "Python worker run time summed over tasks / call wall time"),
    ("py.init_share", "ratio", "Python worker start + init time summed over tasks / call wall time"),
    ("trace.span_overhead_s", "s", "counter-traced minus untraced call time, summed"),
    ("trace.layer_overhead_s", "s", "layer-traced minus untraced call time, summed"),
    ("api.self_share", "ratio", "api's own time (ids, join-back) / layer-traced call time"),
]
SPAN_SHARES = [
    "zonal.aoi_circle", "geo.grid.from_tiles", "zonal.zonal_stats_aoi",
    "spatial_join.cell_candidates",
    "network.nearest_node", "network.bounded_network_distances_auto",
    "network.greenspace_pct_isochrone",
    "visibility.sample_points_viewshed", "visibility.viewshed_gvi_points",
    "visibility.viewshed_gvi", "visibility.streetview_gvi_aggregate",
    "accessibility.rect_buffer_candidates", "accessibility.shortest_distance_greenspace",
]


def per_layer_specs() -> list[tuple[str, str, str]]:
    from layers import RATIOS

    return (
        PER_LAYER
        + [(k, "ratio", f"{num} / {den}") for k, (num, den) in RATIOS.items()]
        + [(f"{s}.self_share", "ratio", "self time / layer-traced call time") for s in SPAN_SHARES]
    )


def summary(values: list[float]) -> dict:
    """n, median and the highest listed percentile with at least ten
    samples beyond it (none below 20 samples)."""
    out = {"n": len(values), "median": statistics.median(values)}
    for p in (99, 95, 90, 75, 50):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out


def say(*parts) -> None:
    print(*parts, flush=True)


class Run:
    """One benchmark run: counts attempts and failures, keeps the
    checked plans and their output digests."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.digests: dict[str, str] = {}
        self.checked: dict = {}

    def fail(self, call: str, what: str) -> None:
        self.failed += 1
        say(f"FAIL {self.w.name} {call}: {what}")

    def check_pass(self, tables: dict) -> float:
        """Cold first pass: every call collected and checked; returns its
        wall time."""
        from checks import digest, problems

        t0 = time.perf_counter()
        outs = {}
        for call in self.w.calls:
            self.attempted += 1
            try:
                df = call.run(tables)
                outs[call.name] = df.toPandas()
            except Exception:
                self.fail(call.name, traceback.format_exc())
                continue
            self.checked[call.name] = df
        wall = time.perf_counter() - t0
        n = len(tables["pois_pdf"])
        for name, out in outs.items():
            call = next(c for c in self.w.calls if c.name == name)
            bad = problems(name, call.out_cols, out, n)
            if bad:
                self.checked.pop(name)
                self.fail(name, "; ".join(bad[:5]))
            else:
                self.digests[name] = digest(out)
        return wall

    def repeat_check(self) -> float:
        """Execute each checked plan again; its digest must repeat.
        Returns the wall time."""
        from checks import digest

        t0 = time.perf_counter()
        for name, df in self.checked.items():
            self.attempted += 1
            try:
                again = digest(df.toPandas())
            except Exception:
                self.fail(name, traceback.format_exc())
                continue
            if again != self.digests[name]:
                self.fail(name, "output digest changed between executions")
        return time.perf_counter() - t0

    def timed_call(self, call, tables: dict) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            call.run(tables).write.format("noop").mode("overwrite").save()
        except Exception:
            self.fail(call.name, traceback.format_exc())
            return None
        return time.perf_counter() - t0


def set_up(w, seed: int, cores: int, conf: dict):
    """``SETUP_ROUNDS`` set-ups; the last one's session and tables are
    kept.  Returns (spark, tables, [(session_s, setup_s) per set-up])."""
    from greenex_py_spark.session import get_spark
    from workloads import build_tables

    spark, rounds = None, []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()  # the JVM stays up; the next get_spark makes a new context
        spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        t1 = time.perf_counter()
        tables = build_tables(spark, w, seed)
        rounds.append((t1 - t0, time.perf_counter() - t0))
    return spark, tables, rounds


def warm_up(run: Run, tables: dict, spent_s: float) -> int:
    """At least ``WARM_PASSES`` untimed passes, and more until
    ``WARMUP_S`` of running, counting the ``spent_s`` of the checked
    passes.  The first warm pass is still 20-40 % slower than later ones,
    and cheap rows at high N keep speeding up for several passes as the
    JIT compiles the per-row code.  Returns the number of passes."""
    t0 = time.perf_counter() - spent_s
    n = 0
    while n < WARM_PASSES or time.perf_counter() - t0 < WARMUP_S:
        for c in run.w.calls:
            run.timed_call(c, tables)
        n += 1
    return n


def measure(run: Run, tables: dict, seconds: float) -> dict:
    from host import RssSampler, cpu_ticks, work_cpu_s

    lat = {c.name: [] for c in run.w.calls}
    passes, cpu = [], []
    ticks0 = cpu_ticks()
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while True:
            c0, t0 = work_cpu_s(), time.perf_counter()
            times = [run.timed_call(c, tables) for c in run.w.calls]
            if all(t is not None for t in times):
                passes.append(time.perf_counter() - t0)
                cpu.append(work_cpu_s() - c0)
                for c, t in zip(run.w.calls, times):
                    lat[c.name].append(t)
            n_pass = len(lat[run.w.calls[0].name])
            if time.perf_counter() >= deadline and (n_pass >= MIN_PASSES or run.failed):
                break
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {"passes": passes, "cpu": cpu, "latency": lat, "peak_rss_mb": rss.peak_mb,
            "rss_samples": rss.samples, "steal_share": steal / total if total else 0.0}


def traced(run: Run, spark, tables: dict) -> tuple[dict, dict]:
    """Each call runs untraced, then with job-group and SQL-status-store
    counters, then with layer spans; returns (per-layer metrics, trace
    document)."""
    from layers import RATIOS, counts, patched
    from trace import SparkCounters, Tracer

    tracer, counters = Tracer(), SparkCounters(spark)
    calls = {c.name: {} for c in run.w.calls}
    ratios: dict[str, list[float]] = {}
    # a call's next run tends to be faster than its last: the untraced
    # baseline is the mean of one run before and one after the traced ones
    for c in run.w.calls:
        before = run.timed_call(c, tables)

        cid = f"{c.name}.counters"
        mark = counters.mark()
        with tracer.span(f"call.{c.name}", call_id=cid) as root:
            with tracer.span("build") as build, counters.job_group(f"{cid}.build"):
                df = c.run(tables)
            with tracer.span("execute"), counters.job_group(f"{cid}.execute"):
                df.write.format("noop").mode("overwrite").save()
        run.attempted += 1
        eager = counters.jobs_in(f"{cid}.build")
        calls[c.name]["counters"] = {
            "call_s": root.duration,
            "build_s": build.duration,
            "eager_jobs": eager,
            "jobs": eager + counters.jobs_in(f"{cid}.execute"),
            **counters.executions_since(mark),
        }

        records = []
        with patched(tracer, records), tracer.span(f"call.{c.name}", call_id=f"{c.name}.layers") as root:
            with tracer.span("build"):
                df = c.run(tables)
            with tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
        run.attempted += 1
        calls[c.name]["layers_s"] = root.duration
        for k, (num, den) in counts(records).items():
            acc = ratios.setdefault(k, [0.0, 0.0])
            acc[0] += num
            acc[1] += den
            calls[c.name].setdefault("counts", {})[k] = [num, den]
        del records, df  # release the layer checkpoints before the baseline

        after = run.timed_call(c, tables)
        if before is None or after is None:
            raise SystemExit(f"{c.name} failed; no trace without a baseline")
        calls[c.name]["untraced_s"] = (before + after) / 2

    spans = tracer.to_json()
    layer_spans = [s for s in spans if s["call_id"].endswith(".layers")]
    layer_total = sum(s["duration_s"] for s in layer_spans if s["parent_id"] is None)
    ctr = [v["counters"] for v in calls.values()]
    total = sum(x["call_s"] for x in ctr)
    untraced = sum(v["untraced_s"] for v in calls.values())
    for v in calls.values():
        v["span_overhead_s"] = v["counters"]["call_s"] - v["untraced_s"]
        v["layer_overhead_s"] = v["layers_s"] - v["untraced_s"]
    mb = 2.0**20
    metrics = {
        "api.build_s": sum(x["build_s"] for x in ctr),
        "api.eager_jobs": sum(x["eager_jobs"] for x in ctr),
        "spark.jobs": sum(x["jobs"] for x in ctr),
        "spark.sql_execs": sum(x["sql_execs"] for x in ctr),
        "spark.shuffle_write_mb": sum(x["shuffle_write_bytes"] for x in ctr) / mb,
        "spark.shuffle_read_mb": sum(x["shuffle_read_bytes"] for x in ctr) / mb,
        "spark.broadcast_mb": sum(x["broadcast_bytes"] for x in ctr) / mb,
        "spark.spill_mb": sum(x["spill_bytes"] for x in ctr) / mb,
        "py.sent_mb": sum(x["py_sent_bytes"] for x in ctr) / mb,
        "py.returned_mb": sum(x["py_returned_bytes"] for x in ctr) / mb,
        "py.run_share": sum(x["py_run_s"] for x in ctr) / total,
        "py.init_share": sum(x["py_init_s"] for x in ctr) / total,
        "trace.span_overhead_s": total - untraced,
        "trace.layer_overhead_s": layer_total - untraced,
        "api.self_share": sum(
            s["self_s"] for s in layer_spans if s["name"] in ("build", "execute")
        ) / layer_total,
    }
    for k in RATIOS:
        num, den = ratios.get(k, (0.0, 0.0))
        metrics[k] = num / den if den else 0.0
    for name in SPAN_SHARES:
        metrics[f"{name}.self_share"] = sum(
            s["self_s"] for s in layer_spans if s["name"] == name
        ) / layer_total
    doc = {"calls": calls, "ratios": ratios, "spans": spans}
    return metrics, doc


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="Spark cores (default: every CPU this process may run on)")
    return p.parse_args(argv)


def _prepare_process() -> None:
    """The package importable here and in Spark's Python workers;
    scratch space inside the checkout."""
    sys.path.insert(0, str(ROOT))
    import greenex_py_spark

    if Path(greenex_py_spark.__file__).resolve().parent.parent != ROOT:
        raise SystemExit(f"greenex_py_spark imported from outside {ROOT}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)


def main(argv=None) -> int:
    _prepare_process()
    import host
    from workloads import WORKLOADS

    args = parse_args(argv)
    usable = host.usable_cores()
    cores = usable if args.cores is None else args.cores
    if not 1 <= cores <= usable:
        raise SystemExit(f"--cores {cores}: this process may use 1..{usable} CPUs")
    heap_mb = host.driver_heap_mb(host.mem_total_mb())
    w = WORKLOADS[args.workload]
    run = Run(w)

    spark, tables, rounds = set_up(w, args.seed, cores, host.spark_conf(str(WORK), heap_mb))
    try:
        fp = host.fingerprint(spark, cores, heap_mb, args.seed)
        say("fingerprint", json.dumps(fp, sort_keys=True))
        say(f"session.cold_start_s {rounds[0][0]:.3f} (first get_spark, launches the JVM); "
            f"set-ups {[round(r[1], 3) for r in rounds]} s")
        cold = run.check_pass(tables)
        again = run.repeat_check()
        say(f"warm-up: cold pass {cold:.3f} s, repeat check {again:.3f} s, "
            f"{warm_up(run, tables, cold + again)} untimed passes")
        if args.trace:
            metrics, doc = traced(run, spark, tables)
            metrics["session.start_s"] = statistics.median(r[0] for r in rounds)
            specs = per_layer_specs()
        else:
            m = measure(run, tables, args.seconds)
            if not m["passes"]:
                raise SystemExit("no pass completed without a failure")
            samples = {
                "setup_s": [r[1] for r in rounds],
                "pass_s": m["passes"],
                "pass_cpu_s": m["cpu"],
                "pois_per_s": [w.n_pois * len(w.calls) / p for p in m["passes"]],
            }
            metrics = {k: statistics.median(v) for k, v in samples.items()}
            metrics["peak_rss_mb"] = m["peak_rss_mb"]
            specs = END_TO_END
            for name, unit, _ in END_TO_END + WALL:
                stats = (summary(samples[name]) if name in samples
                         else {"n": m["rss_samples"], "peak": m["peak_rss_mb"]})
                say(f"metric {name} unit={unit}", json.dumps(stats))
            say(f"host: {100 * m['steal_share']:.1f} % of this guest's CPU time went to "
                "other guests during the timed passes")
            for name, values in m["latency"].items():
                say(f"call {name}_s unit=s", json.dumps(summary(values)),
                    "samples", [round(v, 3) for v in values])
    finally:
        host.stop_spark(spark)

    say(f"error_rate {run.failed / run.attempted:.6f} ({run.failed} of {run.attempted} calls)")
    if args.trace:
        out_dir = WORK / "out"
        out_dir.mkdir(parents=True, exist_ok=True)
        path = out_dir / f"trace-{w.name}-seed{args.seed}.json"
        doc.update(workload=w.name, seed=args.seed, fingerprint=fp)
        path.write_text(json.dumps(doc, indent=1))
        say(f"trace written to {path.relative_to(ROOT)}")
        for name, v in doc["calls"].items():
            say(f"call {name}", json.dumps(v, sort_keys=True))
    for name, unit, desc in specs if args.trace else END_TO_END + WALL:
        say(f"{name} = {metrics[name]:.6g} {unit}: {desc}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit, _ in specs},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
