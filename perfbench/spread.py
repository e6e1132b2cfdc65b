"""Run the benchmark once per seed and report each end-to-end metric's
median and quartile spread against its bound.

    python3 perfbench/spread.py --workload bulk_replay --seeds 1 2 3 4 5

Run from the repository root. A metric is steady when its spread
((Q3 - Q1) / median over the seeds) is under a third of its bound;
``setup_s`` is exempt from the spread rule. Each run's result line is
appended to ``--out`` (JSON lines) so a sweep can be re-summarized with
``--summarize`` without re-running.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}")
    return {"workload": workload, "seed": seed, "wall_s": time.perf_counter() - t,
            "result": json.loads(lines[-1]), "detail": json.loads(lines[-2])["detail"]}


def summarize(rows: list[dict], spec: dict) -> list[str]:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = []
    for w in sorted({r["workload"] for r in rows}):
        mine = [r for r in rows if r["workload"] == w]
        bad = sum(1 for r in mine if not r["result"]["correct"])
        out.append(f"{w}: {len(mine)} runs, {bad} incorrect, "
                   f"run wall median {median([r['wall_s'] for r in mine]):.1f} s")
        for name in mine[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in mine]
            spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
            limit = bounds.get(name)
            verdict = "" if limit is None or name == "setup_s" else (
                "steady" if spread < limit / 3 else "WIDE")
            out.append(f"  {name:40s} median {median(vals):12.5g}  spread {spread:6.3f}  {verdict}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", default=[])
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=".perfbench_spread.jsonl")
    ap.add_argument("--summarize", action="store_true", help="only summarize --out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if not args.summarize:
        for w in args.workload:
            for s in args.seeds:
                row = run_once(w, s, spec["run_seconds"], args.trace)
                print(f"{w} seed {s}: {row['wall_s']:.1f} s "
                      f"{json.dumps(row['result']['metrics'])}", flush=True)
                with open(args.out, "a") as f:
                    f.write(json.dumps(row) + "\n")
    with open(args.out) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    if args.workload:
        rows = [r for r in rows if r["workload"] in args.workload]
    print("\n".join(summarize(rows, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
