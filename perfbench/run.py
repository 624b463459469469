"""The repository's benchmark of record.

    python3 perfbench/run.py --workload {serve_prices,ingest_daily,query_suite}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` in
a per-run directory under ``.perfbench_tmp/`` that is removed at the
end; the environment (core count, driver heap, import path, every
scratch directory) is pinned here, not in the package. The last line
of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``) of metrics.py. With ``--trace 1`` the spans are also
written to ``.perfbench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import dataclass, field

import common
import metrics

WORKLOADS = ("serve_prices", "ingest_daily", "query_suite")


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    sf: float | None = None
    tracer: common.Tracer = field(default_factory=common.Tracer)
    spark: object = None
    children: list = field(default_factory=list)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test smoke runs)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"perfbench: no {common.PACKAGE}/ package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    common.become_subreaper()
    work = common.make_work_dir()
    common.pin_environment(work, eventlog=bool(args.trace))
    sys.path.insert(1, common.ROOT)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.sf)
    try:
        with common.TreeMonitor() as mon:
            module = __import__(args.workload)
            values, attempted, failed = module.run(run)
        values["peak_pss_mb"] = mon.peak_mem / 2**20
        if run.trace:
            out_dir = os.path.join(common.ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            with open(path, "w") as f:
                for s in run.tracer.spans:
                    f.write(json.dumps(s) + "\n")
    finally:
        try:
            if run.spark is not None:
                common.stop_spark(run.spark)
        finally:
            for child in run.children:
                if child.poll() is None:
                    child.kill()
            common.reap_descendants()
            common.remove_work_dir(work)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics.finish(values, run.trace),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
