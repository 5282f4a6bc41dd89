"""Run one sparksearch benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding pisa_spark/). The
last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace is 0 and the per-layer metrics
when it is 1. Progress and diagnostics go to standard error. The persisted
serving index is prepared once per checkout on the first run
(``--prepare`` does only that).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["build", "query"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the persisted serving index")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pisa_spark")):
        print(f"perfbench: no pisa_spark/ package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    if args.workload is None and not args.prepare:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.prepare:
        W.prepare()
        return 0
    W.ensure_prepared()

    r = W.Run(args.seed, args.seconds, bool(args.trace))
    try:
        r.start()
        W.log(f"session up after {r.layer['setup.session_s']:.1f} s")
        W.WORKLOADS[args.workload](r)
    except Exception:  # noqa: BLE001 - report and exit without a result
        W.log(f"run aborted:\n{traceback.format_exc()}")
        r.stop()
        shutil.rmtree(r.run_dir, ignore_errors=True)
        return 1
    r.stop()
    if r.trace:
        W.attribute_trace(r)
    shutil.rmtree(r.run_dir, ignore_errors=True)

    r.e2e["setup_s"] = (r.layer["setup.session_s"] + r.layer["setup.stage_s"]
                        + r.layer["setup.warm_s"])
    r.e2e["driver_peak_rss_mb"] = W.peak_rss_mb()
    r.layer["op_error_rate"] = r.failed / max(1, r.attempted)
    missing = [k for k in W.E2E_UNITS if k not in r.e2e]
    if missing:
        W.log(f"no measurement for {missing}")
    units = W.LAYER_UNITS if r.trace else W.E2E_UNITS
    values = r.layer if r.trace else r.e2e
    result = {
        "correct": r.failed == 0 and not missing,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    if not r.trace:
        W.log("layers: " + json.dumps(
            {k: round(v, 4) for k, v in r.layer.items() if v}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
