"""General (two-sided expression) theta joins: the broadcast
nested-loop candidate-pair generator for the counting-join kernel.

The binned operators are the cheap generators for structured
conditions — rangejoin.py for point-in-interval, ineqjoin.py for
one-sided ``l.x < r.y``.  What they cannot express is a condition that
is an arbitrary boolean over expressions of BOTH sides (``l.price *
(1 - l.disc) < r.cutoff * r.scale AND l.qty >= r.min_qty``).  This
module's generator is :func:`theta_join` on the rewritten condition;
every ``theta_*_join_delta`` hands it to the delta algebra in
countjoin.py.  The SQL front routes here automatically: rewrite.py's
two-table outer/semi/anti rules fall back to these operators when the
condition yields no conjunctive equi pairs, and chains whose LAST join
is theta compose the prefix delta with this rule
(rewrite._theta_chain_suffix_delta).

Match-count key: a row's match set is fully determined by its side's
columns the condition references (``left_on`` / ``right_on``, default
derived by :func:`referenced_cols`), so counts group on (key_cols…,
those columns).

Scale shape: there is no equi axis, so every theta probe is a
BroadcastNestedLoopJoin — but in the delta rules the broadcast side is
always delta-derived (ΔL rows, distinct affected keys, flip sets), so
each branch is one narrow scan of a base relation against a small
broadcast: O(|base| · |Δ|) comparisons, no shuffle of either base, no
base×base loop.  Initial materialization of a large×large theta view
should use the binned operators when the condition allows.  The PLAIN
computes here (`theta_join` etc.) are for CREATE-time/small dimensions
and oracle checks — they let Catalyst pick the strategy.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ivm_extension_spark.operators import colops, countjoin
from ivm_extension_spark.operators.colops import q

# single-quoted SQL string literals ('' = escaped quote): column-name
# rewriting and reference detection must never look inside them — a
# condition like ``tag = 'disc'`` must not have the literal mangled just
# because a column named disc exists
_LITERAL_RX = re.compile(r"'(?:[^']|'')*'")


def sub_outside_literals(pattern: str, repl: str, s: str) -> str:
    """``re.sub`` applied only OUTSIDE single-quoted SQL string literals."""
    out: list[str] = []
    last = 0
    for m in _LITERAL_RX.finditer(s):
        out.append(re.sub(pattern, repl, s[last : m.start()]))
        out.append(m.group(0))
        last = m.end()
    out.append(re.sub(pattern, repl, s[last:]))
    return "".join(out)


def referenced_cols(cond: str, cols: list[str], key_cols: tuple[str, ...]) -> list[str]:
    """The non-key columns of ``cols`` that ``cond`` mentions (word-
    boundary match, string literals masked) — the default match-count
    key when ``left_on`` / ``right_on`` is not given explicitly."""
    masked = _LITERAL_RX.sub("''", cond)
    return [
        c
        for c in cols
        if c not in key_cols and re.search(rf"\b{re.escape(c)}\b", masked)
    ]


def _probe_on(
    custom: list[str] | None,
    cond: str,
    cols: list[str],
    key_cols: tuple[str, ...],
) -> list[str]:
    """Match-count key columns: the caller's ``left_on``/``right_on``
    EXTENDED with the condition's referenced columns.  A finer custom
    key still functionally determines the match set, but the anti-term
    probes re-evaluate ``cond`` over projections keyed by this list, so
    the referenced columns must ride along or the probe cannot resolve."""
    ref = referenced_cols(cond, cols, key_cols)
    if custom is None:
        return ref
    return list(dict.fromkeys([*custom, *ref]))


def _check_disjoint(
    left: DataFrame, right: DataFrame, key_cols: tuple[str, ...]
) -> None:
    overlap = (set(left.columns) & set(right.columns)) - set(key_cols)
    if overlap:
        raise ValueError(
            f"non-key column names must be disjoint, both sides have {sorted(overlap)}"
        )


def theta_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    broadcast: str | None = None,
) -> DataFrame:
    """INNER join on the arbitrary SQL condition ``cond`` (over the two
    sides' bare, disjoint non-key column names) plus ``key_cols``
    equality.  ``broadcast`` may name 'left' or 'right' — pass the
    DELTA side in maintenance so the base side is scanned once and
    never shuffled.  Output: all left columns + non-key right columns.

    Both sides are renamed to prefixed temp columns (fresh exprIds) and
    ``cond`` is rewritten to the prefixed names before joining: in the
    delta rules one side is routinely DERIVED from the other (e.g. the
    affected-key set probed back against its base), and bare names in
    ``F.expr(cond)`` would trip Spark's ambiguous-self-join analysis.
    A key column mentioned inside ``cond`` resolves to the LEFT side."""
    _check_disjoint(left, right, key_cols)
    lp, rp = "__tl_", "__tr_"
    cond2 = cond
    for c in left.columns:
        cond2 = sub_outside_literals(rf"\b{re.escape(c)}\b", lp + c, cond2)
    for c in right.columns:
        if c not in key_cols:
            cond2 = sub_outside_literals(rf"\b{re.escape(c)}\b", rp + c, cond2)
    # ONE SQL text: rename prologue + hinted join + output projection —
    # same logical plan as the Dataset-API form (verified: optimized
    # plans identical), one analysis pass and 3 round trips instead of
    # six Dataset calls (round-10 construction diet, guide §7.3)
    lsub = ", ".join(f"{q(c)} AS {q(lp + c)}" for c in left.columns)
    rsub = ", ".join(f"{q(c)} AS {q(rp + c)}" for c in right.columns)
    on = " AND ".join(
        [f"({cond2})"] + [f"({q(lp + k)} = {q(rp + k)})" for k in key_cols]
    )
    out = ", ".join(
        [f"{q(lp + k)} AS {q(k)}" for k in key_cols]
        + [f"{q(lp + c)} AS {q(c)}" for c in left.columns if c not in key_cols]
        + [f"{q(rp + c)} AS {q(c)}" for c in right.columns if c not in key_cols]
    )
    hint = {
        "left": "/*+ BROADCAST(__l) */ ",
        "right": "/*+ BROADCAST(__r) */ ",
        None: "",
    }[broadcast]
    return colops.sql_over(
        f"SELECT {hint}{out} FROM (SELECT {lsub} FROM {{l}}) AS __l "
        f"JOIN (SELECT {rsub} FROM {{r}}) AS __r ON {on}",
        l=left,
        r=right,
    )


def _out_cols(left: DataFrame, right: DataFrame, key_cols: tuple[str, ...]) -> list[str]:
    return [*left.columns, *[c for c in right.columns if c not in key_cols]]


def theta_left_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """LEFT OUTER theta join: matched pairs plus left rows with no
    qualifying right row, NULL-padded.  The matched relation is
    checkpointed once and feeds both the output union and the anti
    probe's matched-key set."""
    left_on = _probe_on(left_on, cond, left.columns, key_cols)
    kp = [*key_cols, *left_on]
    oc = _out_cols(left, right, key_cols)
    matched = theta_join(left, right, cond, key_cols).localCheckpoint(eager=True)
    anti = countjoin.null_pad(left, matched.selectExpr(*[q(c) for c in kp]), kp, right, key_cols)
    return matched.unionByName(anti.selectExpr(*[q(c) for c in oc]))


def theta_full_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
    right_on: list[str] | None = None,
) -> DataFrame:
    """FULL OUTER theta join: matched pairs plus BOTH sides' matchless
    rows NULL-padded (both anti probes reuse the checkpointed matched
    relation's key projections)."""
    left_on = _probe_on(left_on, cond, left.columns, key_cols)
    right_on = _probe_on(right_on, cond, right.columns, key_cols)
    kp_l = [*key_cols, *left_on]
    kp_r = [*key_cols, *right_on]
    oc = _out_cols(left, right, key_cols)
    matched = theta_join(left, right, cond, key_cols).localCheckpoint(eager=True)
    ocq = [q(c) for c in oc]
    anti_l = countjoin.null_pad(left, matched.selectExpr(*[q(c) for c in kp_l]), kp_l, right, key_cols)
    anti_r = countjoin.null_pad(right, matched.selectExpr(*[q(c) for c in kp_r]), kp_r, left, key_cols)
    return (
        matched
        .unionByName(anti_l.selectExpr(*ocq))
        .unionByName(anti_r.selectExpr(*ocq))
    )


def _semi_anti(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...],
    left_on: list[str] | None,
    anti: bool,
) -> DataFrame:
    """Shared SEMI/ANTI probe: match status depends only on the
    referenced left columns, so the theta probe runs over the DISTINCT
    left keys and the matched-key set is broadcast back — the full left
    relation is never theta-compared row by row."""
    left_on = _probe_on(left_on, cond, left.columns, key_cols)
    kp = [*key_cols, *left_on]
    kpq = [q(c) for c in kp]
    ro = referenced_cols(cond, right.columns, key_cols)
    mk = (
        theta_join(
            left.selectExpr(*kpq).distinct(),
            right.selectExpr(*[q(c) for c in (*key_cols, *ro)]),
            cond,
            key_cols,
        )
        .selectExpr(*kpq)
        .distinct()
    )
    return countjoin.probe_join(left, mk, kp, "left_anti" if anti else "leftsemi")


def theta_semi_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """LEFT SEMI theta join (EXISTS) — see :func:`_semi_anti`."""
    return _semi_anti(left, right, cond, key_cols, left_on, anti=False)


def theta_anti_join(
    left: DataFrame,
    right: DataFrame,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """LEFT ANTI theta join (NOT EXISTS): complement of
    :func:`theta_semi_join` over the same broadcast matched-key probe."""
    return _semi_anti(left, right, cond, key_cols, left_on, anti=True)


def _match(cond: str, key_cols: tuple[str, ...]) -> countjoin.Match:
    return lambda a, b, broadcast: theta_join(a, b, cond, key_cols, broadcast)


def _count_keys(left, right, cond, key_cols, left_on, right_on=None):
    """(kp_l, kp_r): each side's match-count key for the kernel."""
    return (
        [*key_cols, *_probe_on(left_on, cond, left.columns, key_cols)],
        [*key_cols, *_probe_on(right_on, cond, right.columns, key_cols)],
    )


def theta_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Δ(L ⋈θ R) — the inner rule (countjoin.inner_delta) with the
    broadcast theta probe as the generator.  Deltas carry the bool
    multiplicity; output = joined columns + the multiplicity bool."""
    return countjoin.inner_delta(
        left, right, d_left, d_right, _match(cond, key_cols), key_cols
    )


def theta_semi_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ⋉θ R) — countjoin.semi_delta with the broadcast theta probe
    as the generator."""
    return countjoin.semi_delta(
        left, right, d_left, d_right, _match(cond, key_cols),
        *_count_keys(left, right, cond, key_cols, left_on),
    )


def theta_anti_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ▷θ R) — countjoin.anti_delta with the broadcast theta probe
    as the generator."""
    return countjoin.anti_delta(
        left, right, d_left, d_right, _match(cond, key_cols),
        *_count_keys(left, right, cond, key_cols, left_on),
    )


def theta_left_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ⟕θ R) — countjoin.left_delta with the broadcast theta probe
    as the generator."""
    return countjoin.left_delta(
        left, right, d_left, d_right, _match(cond, key_cols), key_cols,
        *_count_keys(left, right, cond, key_cols, left_on),
    )


def theta_full_join_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    cond: str,
    key_cols: tuple[str, ...] = (),
    left_on: list[str] | None = None,
    right_on: list[str] | None = None,
) -> DataFrame:
    """Δ(L ⟗θ R) — countjoin.full_delta with the broadcast theta probe
    as the generator."""
    return countjoin.full_delta(
        left, right, d_left, d_right, _match(cond, key_cols), key_cols,
        *_count_keys(left, right, cond, key_cols, left_on, right_on),
    )
