"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout, under the environment BENCHMARK.json's
command pins. Progress and a host record go to stderr and to a
`host` line on stdout; the last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of one untraced run.
--trace 1 makes an untraced run and then a traced run of the same
inputs, and reports the per-layer metrics of the traced run plus the
tracing overhead of each end-to-end metric (traced minus untraced).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import E2E_UNITS, ROOT, Budget, HostRecord, log  # noqa: E402

# Waits for the system under test end this long after start, which
# leaves time to tear down within the benchmark's 180 s limit. A traced
# invocation makes two runs; the untraced one ends its waits earlier.
RUN_BUDGET_S = 155
PLAIN_BUDGET_S = 75


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True,
                   choices=("outbox_pg", "listen_fanout"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _workload(name: str):
    if name == "outbox_pg":
        from perfbench import outbox_pg

        return outbox_pg.run
    from perfbench import listen_fanout

    return listen_fanout.run


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through every cleanup block


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "pqstream_spark", "__main__.py")):
        log(f"no pqstream_spark package under {ROOT}: run from a checkout")
        return 2
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        log("SPARK_GRAFT_DRIVER_MEM is unset: run BENCHMARK.json's command")
        return 2
    signal.signal(signal.SIGTERM, _terminate)
    t0 = time.monotonic()
    host = HostRecord()
    run = _workload(args.workload)
    plain = run(args, False, Budget(t0 + (PLAIN_BUDGET_S if args.trace
                                          else RUN_BUDGET_S)))
    attempted, failed = plain["attempted"], plain["failed"]
    correct = plain["correct"]
    if args.trace:
        from perfbench.layers import layer_metrics

        traced = run(args, True, Budget(t0 + RUN_BUDGET_S))
        attempted += traced["attempted"]
        failed += traced["failed"]
        correct = correct and traced["correct"]
        values = layer_metrics(traced)
        for name, unit in E2E_UNITS.items():
            values[f"overhead.{name}"] = (
                traced["metrics"].get(name, 0.0) - plain["metrics"].get(name, 0.0),
                unit)
        info = {"untraced": plain["info"], "traced": traced["info"]}
    else:
        values = {k: (v, E2E_UNITS[k]) for k, v in plain["metrics"].items()}
        info = plain["info"]
    print(json.dumps({"host": host.finish(), "workload": args.workload,
                      "seed": args.seed, "info": info}), flush=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
