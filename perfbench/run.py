"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs one workload from the root of a source checkout and prints, as its
last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of the traced run with ``--trace 1``. A line
before it carries the workload's own figures (``"info"``) and, when
traced, each layer's self time, the traced run's own ``cpu_ms_per_op`` and
the cost of recording its spans; the spans go to
``.perfbench_out/spans-<workload>-<seed>.jsonl``. The tracing overhead
compares traced and untraced runs of the same seeds
(``repeat.py --overhead``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT  # noqa: E402

WORKLOADS = {
    "queue_records": "records",
    "queue_relay": "relay",
}

END_TO_END = [
    ("setup_s", "s"),
    ("memory_mb", "MiB"),
    ("cpu_ms_per_op", "ms"),
]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "quebic_spark")):
        print(f"error: {ROOT} holds no quebic_spark package; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2

    from harness import Run, result_line
    import layers
    from spans import Tracer

    workload = importlib.import_module(WORKLOADS[args.workload])
    tracer = Tracer() if args.trace else None
    r = Run(args.seed, args.seconds, tracer)
    try:
        if tracer:
            layers.install(tracer)
        res = workload.run(r)
    finally:
        if tracer:
            tracer.restore()
        r.close()

    print(json.dumps({"info": r.info}, default=float))
    if tracer:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        spans = os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(spans)
        # span bookkeeping only: the byte counting some wrappers do
        # (layers.py) is not in it, but is in the traced cpu_ms_per_op
        recording = tracer.wrapper_cost_s() * len(tracer.spans)
        print(json.dumps({"trace": {
            "spans": len(tracer.spans),
            "spans_file": os.path.relpath(spans, ROOT),
            "self_time_s": {k: round(v, 4)
                            for k, v in tracer.self_times_s().items()},
            "cpu_ms_per_op": res["e2e"]["cpu_ms_per_op"],
            "span_recording_share": round(recording / res["timed_s"], 5),
        }}))
        metrics = layers.metrics(tracer, res["user_bytes"], res["timed_s"],
                                 res["rounds"], res["layer_extra"])
    else:
        vals = res["e2e"]
        metrics = {name: (vals[name], unit) for name, unit in END_TO_END}
    print(result_line(res["correct"], res["attempted"], res["failed"],
                      metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
