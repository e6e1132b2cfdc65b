"""CDC replay -> MERGE -> reconcile benchmark.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 6 --trace 0

Run from the repository root. One process, one Spark JVM at
``local[<cores>]``. A run:

1. starts the session and warms the JIT up by running the workload on
   inputs a tenth the size;
2. sets the workload up ``SETUP_REPS`` times from the seed (log
   generation, base/source/target tables) — ``setup_s`` is session start
   plus the median set-up — then runs one more warm-up unit;
3. runs whole units until ``--seconds`` have passed (untraced) — or,
   with ``--trace 1``, pairs of untraced and traced units (spans around
   the engine's public functions plus the Spark event log) and reports
   per-layer metrics instead of end-to-end ones; ``bulk_replay`` adds a
   ``local[1]`` leg;
4. checks the outputs against the DuckDB oracle.

The last stdout line is the JSON result; the line before it carries the
detail (sample counts, percentiles, the oracle's findings).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
WARM_SCALE = 0.1  # the JIT warm-up runs the workload on inputs this much smaller
TRACE_PAIRS = {"bulk_replay": 2, "trickle_verify": 1}
SHUFFLE_PARTITIONS = 8


def load_spec() -> dict:
    from stats import check_metric_names

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_metric_names(spec["end_to_end"] + spec["per_layer"])
    return spec


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_dirs() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    # every temp file (gateway handshake, JVM tmpdir, Python workers)
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT]


def run_units(wl, seconds: float) -> list:
    units, t0 = [], time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        units.append(wl.unit())
    return units


def end_to_end(wl, units, setup_s: float, peak_rss: float) -> tuple[dict, dict]:
    """The end-to-end metric values, and the detail behind them."""
    from stats import median, summarize

    calls = [c for u in units for c in u.calls]
    items, wall = sum(u.items for u in units), sum(u.wall for u in units)
    values = {
        "setup_s": setup_s,
        "call_p50_s": median(calls),
        "throughput_per_s": items / wall,
        "table_bytes_per_live_row": wl.table_bytes_per_live_row(),
    }
    detail = {"units": len(units), "calls": summarize(calls), "items": items,
              "peak_rss_mb": peak_rss,
              "engine_wall_s": wall, "call_walls_s": [round(c, 3) for c in calls]}
    verifies = [v for u in units for v in u.verifies]
    if verifies:
        detail["verifies"] = summarize(verifies)
        detail["verify_walls_s"] = [round(v, 3) for v in verifies]
    return values, detail


def traced_phase(wl, env, log_dir: str, pid: int) -> dict:
    """Pairs of (untraced, traced) units, then per-layer metrics from the
    traced units' spans + the event log. Pairing puts both sides at the
    same point of the JIT warm-up curve, so their difference is the
    tracing overhead."""
    from eventlog import read_event_log
    from layers import Counters, compute
    from runtime import peak_rss_mb, start_spark
    from stats import median
    from trace import Tracer

    tracer = Tracer(env.spark.sparkContext, run_id=f"{wl.name}-{env.seed}")
    plain, traced = [], []
    for _ in range(TRACE_PAIRS[wl.name]):
        plain.append(wl.unit())
        env.tracer = tracer
        tracer.install()
        try:
            traced.append(wl.unit())
        finally:
            tracer.uninstall()
            env.tracer = None
    counters = Counters(python_cpu_s=env.python_cpu_s)
    for u in traced:
        counters.units += 1
        wl.count(counters, u)
    plain_wall = median([u.wall for u in plain])
    overhead = median([u.wall for u in traced]) - plain_wall
    counters.extra["trace.overhead_s"] = overhead
    # driver JVM high-water RSS: it spread 0.21 (quartiles/median) over
    # five bulk_replay seeds, too wide to gate, so it is a layer metric
    counters.extra["jvm.peak_rss_mb"] = peak_rss_mb(pid)
    env.spark.stop()  # flushes the event log; the JVM (and its JIT) lives on
    log = read_event_log(log_dir)

    units, scaling = plain + traced, 0.0
    if wl.name == "bulk_replay":
        # local[1] reference leg on the same log: efficiency of 1 -> N cores
        env.spark = start_spark("local[1]", WORK, SHUFFLE_PARTITIONS, None)
        units.append(wl.unit())
        scaling = units[-1].wall / (env.cores * plain_wall)
    counters.extra["runner.scaling_eff_1_to_4"] = scaling
    return {"metrics": compute(tracer.spans, log, counters), "units": units,
            "detail": {"overhead_share": overhead / plain_wall, "trace_pairs": len(traced)}}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    for need in ("etl_reconciliate_spark", "jobs/replay_job.py", "jobs/reconcile_job.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"run from the repository root: {need} not found", file=sys.stderr)
            return 2

    prepare_dirs()
    import oracle
    import runtime
    from stats import median
    from workloads import WORKLOADS, Env

    n_cores = cores()
    log_dir = os.path.join(WORK, "eventlog") if args.trace else None
    t = time.perf_counter()
    spark = runtime.start_spark(f"local[{n_cores}]", WORK, SHUFFLE_PARTITIONS, log_dir)
    session_s = time.perf_counter() - t
    pid = runtime.jvm_pid(spark)
    env = Env(spark=spark, jobs=runtime.Jobs(ROOT), seed=args.seed, cores=n_cores)
    cls = WORKLOADS[args.workload]
    wl = cls(env, WORK)
    try:
        # JIT warm-up first, on small inputs, so that the set-up reps and
        # the measured units all run warm; its cost is reported, not gated
        t = time.perf_counter()
        warm_root = os.path.join(WORK, "warm")
        warm = cls(env, warm_root, scale=WARM_SCALE)
        warm.setup(os.path.join(warm_root, "setup"))
        for _ in range(cls.WARM_UNITS):
            warm.warm_unit()
        shutil.rmtree(warm_root)
        warmup_s = time.perf_counter() - t

        reps = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(os.path.join(WORK, f"setup{r}"))
            reps.append(time.perf_counter() - t)
        for r in range(SETUP_REPS - 1):
            shutil.rmtree(os.path.join(WORK, f"setup{r}"))
        setup_s = session_s + median(reps)
        # one more warm-up unit at full scale: after the small ones alone
        # the first measured unit still ran 30% slow
        t = time.perf_counter()
        wl.warm_unit()
        warmup_s += time.perf_counter() - t

        detail = {"setup_reps_s": reps, "session_s": session_s, "warmup_s": warmup_s,
                  "cores": n_cores}
        if args.trace:
            tr = traced_phase(wl, env, log_dir, pid)
            units, values = tr["units"], tr["metrics"]
            detail.update(tr["detail"])
        else:
            t, steal0 = time.perf_counter(), runtime.cpu_steal()
            units = run_units(wl, args.seconds)
            measure_s = time.perf_counter() - t
            steal = runtime.cpu_steal() - steal0
            values, more = end_to_end(wl, units, setup_s, runtime.peak_rss_mb(pid))
            detail.update(more, measure_s=measure_s,
                          host_steal_share=steal / (measure_s * os.cpu_count()))
        attempted = sum(u.ops for u in units)
        failures = [f for u in units for f in u.failures]

        con = oracle.connect(n_cores, WORK)
        try:
            failures += wl.check(con)
        finally:
            con.close()
    finally:
        runtime.stop_spark(env.spark)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec[kind]}
    detail.update(workload=args.workload, seed=args.seed, failures=failures)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failures), attempted), "metrics": metrics}))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
