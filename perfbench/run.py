"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout of the repository. Builds the workload's
inputs from the seed, drives the program through its public entry
points for about ``--seconds`` of measurement, checks every output
against the generator's ground truth and prints, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Exits 1 when an output check fails and 2 when the
program is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import runtime  # noqa: E402

WORKLOADS = ("flow_replay", "datapipe_hot")


def _spec() -> dict:
    with open(os.path.join(runtime.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not runtime.program_present():
        print("perfbench: xenoeye_spark is not in this checkout",
              file=sys.stderr)
        return 2
    spec = _spec()
    trace = bool(args.trace)
    run_dir = runtime.prepare(args.workload, args.seed, trace)
    from perfbench.tracing import Spans

    spans = Spans(trace)
    if args.workload == "flow_replay":
        from perfbench.flows import flow_replay as fn
    else:
        from perfbench.datapipe import datapipe_hot as fn
    ck, e2e, layers, info = fn(args.seed, args.seconds, trace, run_dir,
                               spans)
    if trace:
        # kept after the run directory is removed
        spans.dump(os.path.join(runtime.WORK,
                                f"spans-{args.workload}-{args.seed}.json"))
    for f in ck.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    want = spec["per_layer"] if trace else spec["end_to_end"]
    source = layers if trace else e2e
    if trace:
        # a layer the workload does not run did no work: it reads 0
        for m in want:
            source.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in want if m["name"] not in source]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(source[m["name"]]),
                           "unit": m["unit"]} for m in want}
    print(json.dumps({"info": info, "end_to_end": e2e,
                      "per_layer": layers}))
    print(json.dumps({
        "correct": ck.failed == 0,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "metrics": metrics,
    }))
    runtime.cleanup(run_dir)
    return 0 if ck.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
