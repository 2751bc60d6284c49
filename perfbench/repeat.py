"""Run one workload N times on consecutive seeds and print, for every
metric, the median, the quartiles and the spread (Q3 - Q1) / median, as
``statistics.quantiles(values, n=4)`` gives them. Used to set the bounds
in BENCHMARK.json and to check them again.

    python3 perfbench/repeat.py --workload queue_records --runs 10 \\
        [--first-seed 1] [--seconds 20] [--trace 0] [--overhead]

With ``--overhead`` every seed runs twice, untraced and traced, back to
back and in alternating order, and the tracing overhead is printed: the
median, over the seeds, of traced ``cpu_ms_per_op`` divided by untraced
``cpu_ms_per_op``, minus one. Pairing the runs keeps the host's drift,
which moves whole sets of runs, out of the comparison. The wall-clock
``ops_per_s`` of the ``info`` lines is summarised too, as a reference.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(args, seed: int, trace: int) -> dict | None:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", args.workload, "--seed", str(seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"seed {seed}: exit {proc.returncode}\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    res["seed"], res["trace_run"] = seed, trace
    res["wall_s"] = round(time.time() - t0, 1)
    res["info"] = next((json.loads(ln)["info"] for ln in lines
                        if ln.startswith('{"info"')), {})
    res["trace"] = next((json.loads(ln)["trace"] for ln in lines
                         if ln.startswith('{"trace"')), None)
    print(json.dumps({"seed": seed, "trace": trace,
                      "wall_s": res["wall_s"], "correct": res["correct"],
                      "attempted": res["attempted"],
                      "failed": res["failed"]}), flush=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    results, ratios = [], []
    for k in range(args.runs):
        seed = args.first_seed + k
        if args.overhead:
            order = (0, 1) if k % 2 == 0 else (1, 0)
            pair = {t: run_once(args, seed, t) for t in order}
            if None in pair.values():
                return 1
            ratios.append(pair[1]["trace"]["cpu_ms_per_op"]
                          / pair[0]["metrics"]["cpu_ms_per_op"]["value"])
            results.append(pair[args.trace])
        else:
            res = run_once(args, seed, args.trace)
            if res is None:
                return 1
            results.append(res)
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8}")
    rows = {name: [r["metrics"][name]["value"] for r in results]
            for name in results[0]["metrics"]}
    if all("ops_per_s" in r["info"] for r in results):
        rows["info ops_per_s"] = [r["info"]["ops_per_s"] for r in results]
    for name, vals in rows.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:44} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{spread:8.4f}")
    if ratios:
        print(f"tracing overhead {statistics.median(ratios) - 1:.1%} "
              f"(traced / untraced cpu_ms_per_op per seed: "
              f"{[round(x, 3) for x in ratios]})")
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    raw = os.path.join(out, f"repeat-{args.workload}-trace{args.trace}-"
                            f"seed{args.first_seed}.json")
    with open(raw, "w") as fh:
        json.dump(results, fh, indent=1)
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}; wall s: "
          f"{[r['wall_s'] for r in results]}; raw results: "
          f"{os.path.relpath(raw, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
