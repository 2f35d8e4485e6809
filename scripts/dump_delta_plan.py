"""Dump the PRE-PIN ΔV ``.explain("formatted")`` of a lifecycle key.

The per-key ``*_after.txt`` dumps of a merged lifecycle show only the
pinned result (`Scan ExistingRDD`), which proves nothing about the
delta rule's join tree.  This tool intercepts ``IVMEngine.ivm_upsert``
while the DECLARED query runs and dumps the ΔV plan the rule actually
built (the LAST upsert of the run — steady state for multi-batch
drives).  Same normalization caveats as dump_plan.py: exprIds and RDD
ids differ run to run; compare shape-normalized.  Diagnostic only.

Usage: python scripts/dump_delta_plan.py <outdir> <suffix> <key> [key ...]
       python scripts/dump_delta_plan.py --compare <dirA> <dirB>

``--compare`` pairs the ``<key>_dv_<suffix>.txt`` dumps of two
directories by key, normalizes run-dependent ids (exprIds ``#123``,
``plan_id``, RDD / ExistingRDD / checkpoint ids, codegen stage ids,
runtime statistics, node numbers) and prints per key whether the
operator trees are identical, plus any expression-level differences of
the per-node details.  Memory: ``SPARK_GRAFT_MEM`` sets the JVM heap
of a dump run (default 48g — set it below the host's RAM).
"""

from __future__ import annotations

import difflib
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_NORM = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[?]"),
    (re.compile(r"rdd_\d+(_\d+)?"), "rdd_?"),
    (re.compile(r"checkpoint-?\w*[-_][0-9a-f-]+"), "checkpoint-?"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : ?]"),
    (re.compile(r",? ?Statistics\([^)]*\)"), ""),
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: ?"),  # query stage ids
]


def _normalize(text: str) -> str:
    for rx, rep in _NORM:
        text = rx.sub(rep, text)
    return text


def _split(text: str) -> tuple[list[str], list[str]]:
    """(operator tree lines without node numbers, per-node detail
    lines) of one formatted explain, both normalized."""
    text = _normalize(text)
    head, _, details = text.partition("\n\n\n")
    tree = [re.sub(r" \(\d+\)$", "", ln.rstrip()) for ln in head.splitlines()]
    det = [re.sub(r"^\(\d+\) ", "", ln) for ln in details.splitlines() if ln.strip()]
    return tree, det


def _counts(tree: list[str]) -> dict[str, int]:
    """Join / exchange / checkpoint-scan node counts of the pre-AQE
    (initial) plan — the part of the tree that does not depend on
    runtime statistics."""
    marker = [i for i, ln in enumerate(tree) if "== Initial Plan ==" in ln]
    nodes = tree[marker[0] + 1 :] if marker else tree
    return {
        kind: sum(1 for ln in nodes if re.search(rx, ln))
        for kind, rx in (
            ("joins", r"Join\b"),
            ("exchanges", r"Exchange\b"),
            ("checkpoint scans", r"Scan ExistingRDD"),
        )
    }


def compare(dir_a: Path, dir_b: Path) -> int:
    def by_key(d: Path) -> dict[str, Path]:
        return {
            re.sub(r"_dv_[^_]+\.txt$", "", f.name): f for f in sorted(d.glob("*_dv_*.txt"))
        }

    a, b = by_key(dir_a), by_key(dir_b)
    for key in sorted(a.keys() | b.keys()):
        if key not in a or key not in b:
            print(f"{key}: MISSING in {dir_a if key not in a else dir_b}")
            continue
        (ta, da), (tb, db) = _split(a[key].read_text()), _split(b[key].read_text())
        verdict = "IDENTICAL" if ta == tb else "DIFFERENT"
        print(f"{key}: operator tree {verdict}")
        if ta != tb:
            ca, cb = _counts(ta), _counts(tb)
            print("  initial plan " + ", ".join(f"{k} {ca[k]} -> {cb[k]}" for k in ca))
            for ln in difflib.unified_diff(ta, tb, "A", "B", n=1, lineterm=""):
                print("    " + ln)
        elif da != db:
            print("  expression-level differences:")
            for ln in difflib.unified_diff(da, db, "A", "B", n=0, lineterm=""):
                if not ln.startswith("@@"):
                    print("    " + ln)
    return 0


def main() -> int:
    if sys.argv[1] == "--compare":
        return compare(Path(sys.argv[2]), Path(sys.argv[3]))
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from ivm_extension_spark import engine as engmod

    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    keys = sys.argv[3:]
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dump-delta-plan")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    captured: dict = {}
    orig = engmod.IVMEngine.ivm_upsert

    def spy(self, name):
        dv = orig(self, name)
        captured["dv"] = dv
        return dv

    engmod.IVMEngine.ivm_upsert = spy

    # keys that drive an operator-level rule directly (no engine
    # upsert): spy every public *_delta function of the rule modules —
    # the OUTERMOST rule returns last, so the final capture is its ΔV
    from ivm_extension_spark.operators import (
        asof as _asof,
        countjoin as _countjoin,
        ineqjoin as _ineq,
        rangejoin as _range,
        thetajoin as _theta,
        windowcdc as _wcdc,
    )

    undo = []
    for mod in (_countjoin, _theta, _ineq, _range, _asof, _wcdc):
        for fname in list(vars(mod)):
            fobj = vars(mod)[fname]
            if fname.endswith("_delta") and callable(fobj):

                def wrap(f=fobj):
                    def inner(*a, **kw):
                        dv = f(*a, **kw)
                        captured["dv"] = dv
                        return dv

                    return inner

                setattr(mod, fname, wrap())
                undo.append((mod, fname, fobj))
    try:
        for key in keys:
            captured.clear()
            qs[key](spark, sf_dir)
            if "dv" not in captured:
                print(f"SKIP {key}: no ivm_upsert observed", file=sys.stderr)
                continue
            dv = captured["dv"]
            plan = dv._sc._jvm.PythonSQLUtils.explainString(
                dv._jdf.queryExecution(), "formatted"
            )
            (outdir / f"{key}_dv_{suffix}.txt").write_text(plan)
            print(f"wrote {outdir / f'{key}_dv_{suffix}.txt'}")
    finally:
        engmod.IVMEngine.ivm_upsert = orig
        for mod, fname, fobj in undo:
            setattr(mod, fname, fobj)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
