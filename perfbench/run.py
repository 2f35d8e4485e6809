"""IVM maintenance benchmark: batch latency, view reads and stream freshness.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload agg_churn --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py; BENCHMARK.json lists the gated ones):

- ``agg_churn``: closed loop, one client; grouped aggregates over lineitem,
  1% delete+insert batches, then two rounds of reading every view.
- ``stream_store``: open loop; a load generator writes one orders delta file
  every 3 s into a file stream that a ``StreamingViewMaintainer`` folds into
  a lakehouse-backed view while the view is read every 0.5 s.
- ``join_churn``: closed loop like ``agg_churn``; equi, outer and band joins
  over orders/customer/nation, 0.1% batches on orders and customer.  Not in
  BENCHMARK.json, whose run budget fits two workloads at this run length;
  run it by hand.

With ``--trace 0`` the last line of output holds the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a separate traced run, whose
spans are also written to ``.perfbench_out/``.  The lines before it give
each metric with its unit, sample count and percentile, every failed
operation, the correctness gate's verdict per view and the host context.

The run exits with status 2, printing no result, when it is not started
from a checkout that holds the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "ivm_extension_spark" / "engine.py").is_file() or not spec_path.is_file():
        print(f"perfbench: {ROOT} is not a checkout holding ivm_extension_spark "
              "and BENCHMARK.json", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    res = run(workloads.WORKLOADS[args.workload], args.seed, args.seconds,
              bool(args.trace))
    report(res, spec, bool(args.trace))
    return 0


def run(wl, seed: int, seconds: float, trace: bool, sf: float | None = None):
    """One run in a fresh work directory under the checkout, removed after."""
    import workloads

    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))  # the engine package

    work = ROOT / ".perfbench_work" / f"{wl.name}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    try:
        return workloads.Run(wl, seed, seconds, trace, str(work),
                             str(ROOT / ".perfbench_out"), sf).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it


def report(res, spec: dict, trace: bool) -> dict:
    """Print every metric with its unit and sample count, the failures and the
    context, then the one-line result; returns the result."""
    attempted = sum(res.attempted.values())
    failed = len(res.failures)
    metrics = {}
    if trace:
        for m in spec["per_layer"]:
            v = float(res.layer.get(m["name"], 0.0))
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{res.workload} {m['name']} = {v:.6g} {m['unit']}")
    else:
        for m in spec["end_to_end"]:
            v, n, pct = res.e2e.get(m["name"], (0.0, 0, None))
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
            at = f", p{pct:g}" if pct is not None else ""
            print(f"{res.workload} {m['name']} = {v:.6g} {m['unit']} (n={n}{at})")
    share = failed / attempted if attempted else 1.0
    print(f"{res.workload} ops_failed_share = {share:.6g} share "
          f"({failed} of {attempted}: {res.attempted})")
    for f in res.failures:
        print(f"{res.workload} FAILED op={f.op} view={f.view} exc={f.exc}: {f.message}")
    for v, verdict in res.oracle.items():
        print(f"{res.workload} oracle {v}: {verdict}")
    print(json.dumps({
        "record": "perfbench-detail",
        "workload": res.workload,
        "context": res.context,
        # every end-to-end figure, the ungated batch and freshness tails too
        "e2e": {k: {"value": v, "n": n, "percentile": p} for k, (v, n, p) in res.e2e.items()},
        "samples_ms": res.samples,
        "attempted": res.attempted,
        "failures": [f.__dict__ for f in res.failures],
        "oracle": res.oracle,
        "ops_failed_share": share,
    }, default=str))
    correct = bool(res.oracle) and all(v.startswith("ok") for v in res.oracle.values())
    out = {"correct": correct, "attempted": max(1, attempted), "failed": failed,
           "metrics": metrics}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
