"""Fast self-test of the benchmark itself, at sf0.001.

    python3 perfbench/selftest.py

Runs every workload for a few seconds untraced and traced, and checks that
each run completes without failed operations, that every metric named in
BENCHMARK.json is printed with its unit, and that the correctness gate
fails on a deliberately corrupted view.  Exits 0 when all checks pass.
"""

from __future__ import annotations

import contextlib
import io
import json
import sys

import run as bench
import workloads
from world import MULT_COL

SF = 0.001
SECONDS = 3
# a short set-up and warm-up: the self-test checks what is printed, not speed
SETUP_REPS = 2
WARMUP_S = 1.0


class CorruptingRun(workloads.Run):
    """Before the correctness gate, merge one made-up row into the first
    view through the public API without telling the world about it."""

    def check_views(self, eng, world) -> None:
        t = self.wl.tables[0]
        view = next(iter(self.wl.views))
        fake = eng.table(t).limit(1).selectExpr("*", f"true AS {MULT_COL}")
        eng.register_delta(t, fake)
        eng.ivm_upsert(view)
        eng.merge_view(view)
        eng.discard_delta(t)
        super().check_views(eng, world)


def main() -> int:
    spec = json.loads((bench.ROOT / "BENCHMARK.json").read_text())
    workloads.SETUP_REPS, workloads.WARMUP_S = SETUP_REPS, WARMUP_S
    errors: list[str] = []
    for wl in workloads.WORKLOADS.values():
        for trace in (False, True):
            res = bench.run(wl, seed=7, seconds=SECONDS, trace=trace, sf=SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                out = bench.report(res, spec, trace)
            names = spec["per_layer"] if trace else spec["end_to_end"]
            want = {m["name"]: m["unit"] for m in names}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            tag = f"{wl.name} trace={int(trace)}"
            if got != want:
                errors.append(f"{tag}: metrics {sorted(got)} != {sorted(want)}")
            missing = [n for n in want if f" {n} = " not in buf.getvalue()]
            if missing:
                errors.append(f"{tag}: not printed: {missing}")
            if not out["correct"] or out["failed"]:
                errors.append(f"{tag}: correct={out['correct']} failed={out['failed']} "
                              f"{[f.__dict__ for f in res.failures]}")
            if not trace:
                zero = [k for k, v in out["metrics"].items() if not v["value"] > 0]
                if zero:
                    errors.append(f"{tag}: end-to-end metrics not positive: {zero}")
            print(f"selftest {tag}: {out['attempted']} ops, {out['failed']} failed")

    saved = workloads.Run
    workloads.Run = CorruptingRun
    try:
        res = bench.run(workloads.AGG, seed=7, seconds=SECONDS, trace=False, sf=SF)
    finally:
        workloads.Run = saved
    first = next(iter(workloads.AGG.views))
    if res.oracle.get(first) != "MISMATCH" or not any(
            f.op == "oracle" and f.view == first for f in res.failures):
        errors.append(f"corrupted view {first} passed the gate: {res.oracle}")
    print(f"selftest corrupted {first}: oracle says {res.oracle.get(first)}")

    for e in errors:
        print("SELFTEST FAILED:", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
