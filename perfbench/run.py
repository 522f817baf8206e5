"""netml_spark benchmark: one workload per call, one JSON line at the end.

    python3 perfbench/run.py --workload temporal --seed 42 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see README.md beside this file). Run from the repository root or
anywhere else: the package is found next to this directory.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SIZE = 10_000  # sequences in the generated corpus
# traced runs only: start no new iteration past this run time. Timed runs
# always make the workload's fixed count of passes.
TRACE_LIMIT_S = 100.0
# traced runs: untraced and traced iterations in ABBA order, so that both
# sample the same stretch of the JVM's warm-up trend
TRACE_ORDER = (False, True, True, False)


def _quantiles(xs, n):
    """``statistics.quantiles`` with numpy's default interpolation; a single
    sample is every quantile."""
    if len(xs) < 2:
        return [xs[0]] * (n - 1)
    return statistics.quantiles(xs, n=n, method="inclusive")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _measure(wl, tally, args, t_run, spark):
    """The timed closed loop: one iteration at a time until ``--seconds``
    have passed and the workload's minimum count of iterations has run.
    Traced runs also stop once the run has taken ``TRACE_LIMIT_S``."""
    from perfbench.probe import Spans, StageWindow
    from perfbench.workloads import NoSpans

    spans, no_spans = Spans(), NoSpans()
    walls, traced_walls = [], []
    stages = StageWindow(spark)
    deadline = time.perf_counter() + args.seconds
    for i in itertools.count():
        traced = bool(args.trace) and TRACE_ORDER[i % len(TRACE_ORDER)]
        t0 = time.perf_counter()
        wl.iteration(tally, spans if traced else no_spans, traced)
        wall = time.perf_counter() - t0
        (traced_walls if traced else walls).append(wall)
        _log(f"iteration {'traced ' if traced else ''}{wall:.2f} s")
        now = time.perf_counter()
        if not args.trace:
            if len(walls) >= wl.min_iterations and now >= deadline:
                break
            continue
        done = len(walls) >= max(2, wl.min_iterations) and len(traced_walls) == len(walls)
        if (done and now >= deadline) or (traced_walls and now - t_run > TRACE_LIMIT_S):
            break
    if len(walls) < wl.min_iterations:
        _log(f"traced run cut at {TRACE_LIMIT_S:.0f} s: {len(walls)} untraced "
             f"iterations of {wl.min_iterations}")
    stage_totals = stages.totals() if args.trace else {}
    wl.final_check(tally)
    layers = {}
    if args.trace:
        layers = wl.attribute()
        out = os.path.join(WORK, "trace", f"{args.workload}_seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(spans.spans, f)
        _log(f"spans written to {out}")
    return walls, traced_walls, stage_totals, layers


def main(argv=None) -> int:
    # the engine, and Spark's Python workers, import it from the checkout
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Tally

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "netml_spark", "__init__.py")) \
            or not os.path.isfile(spec_path):
        _log(f"no netml_spark package or BENCHMARK.json next to {HERE}; "
             "run from a full checkout")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    # metric names and units are those BENCHMARK.json declares
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)

    from perfbench import corpus
    from perfbench.probe import RssSampler, Session, cpu_counters

    t_run = time.perf_counter()
    cpu0 = cpu_counters()
    name, cls = args.workload, WORKLOADS[args.workload]
    main_c = corpus.ensure(os.path.join(WORK, "data"), SIZE, args.seed)
    # one CPU is left to the driver, the JVM's compiler and GC threads and the
    # Python workers' parents: with a task thread on every CPU they queue
    # behind the tasks and the passes time the scheduler
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    _log(f"inputs ready after {time.perf_counter() - t_run:.2f} s")
    _log(f"{name}: {main_c.n_docs} sequences, {main_c.n_events} events, "
         f"seed {args.seed}, local[{cores}]")

    tally = Tally()
    t0 = time.perf_counter()
    session = Session(WORK, cores)
    start_s = time.perf_counter() - t0
    sampler = RssSampler(session.jvm_pid)
    try:
        conf = session.conf()
        _log("session conf " + json.dumps(conf))
        wl = cls(session.spark, main_c, WORK)
        t0 = time.perf_counter()
        wl.warm(tally)
        warmup_s = time.perf_counter() - t0
        _log(f"session start {start_s:.2f} s, warm-up {warmup_s:.2f} s")
        walls, traced_walls, stage_totals, layers = _measure(
            wl, tally, args, t_run, session.spark)
    finally:
        peak_mb = sampler.stop()
        session.close()

    declared = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    wall = statistics.median(walls)
    backfill = {}
    if wl.partition_s:
        backfill = {
            "partition_p50_s": statistics.median(wl.partition_s),
            "partition_p90_s": _quantiles(wl.partition_s, 10)[8],
            "resume_s": statistics.median(wl.resume_s),
        }
    if args.trace:
        metrics = dict.fromkeys(declared, 0.0)
        metrics.update(layers)
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warmup_s
        metrics["session.peak_rss_mb"] = peak_mb
        for k, v in stage_totals.items():
            metrics[f"session.{k}"] = v / (len(walls) + len(traced_walls))
        for k in ("partition_p50_s", "partition_p90_s", "resume_s"):
            metrics[f"manifest.{k}"] = backfill.get(k, 0.0)
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - wall
    else:
        metrics = {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "setup_s": start_s + warmup_s,
        }
    if sorted(metrics) != sorted(declared):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {declared}")
    q = _quantiles(walls, 4)
    cpu = [b - a for a, b in zip(cpu0, cpu_counters())]
    # what the last line cannot carry: metrics that may read 0 or exist for
    # one workload only, and the run's shape
    extra = {
        "error_rate": (tally.failed / tally.attempted, "ratio"),
        "wall_s_q1": (q[0], "s"),
        "wall_s_q3": (q[2], "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        **{k: (v, "s") for k, v in backfill.items()},
        "run_s": (time.perf_counter() - t_run, "s"),
        # CPU time the hypervisor gave to other guests: slow runs come with it
        "host_steal": (cpu[7] / sum(cpu), "ratio"),
    }
    summary = {
        "workload": name, "seed": args.seed, "sequences": main_c.n_docs,
        "events": main_c.n_events, "iterations": len(walls),
        "traced_iterations": len(traced_walls),
        "partition_samples": len(wl.partition_s),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "conf": conf,
    }
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
