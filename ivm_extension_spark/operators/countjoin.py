"""The counting-join delta algebra, written once for every non-equi join.

A maintained join carries a signed multiplicity per row (+1 insert,
−1 delete — a ℤ-set), and its delta is the plan run over the deltas
with the signs multiplied through.  For INNER joins that is the
three-branch rule ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR.  OUTER, SEMI and ANTI joins
also depend on each preserved row's MATCH COUNT m: a NULL-padded row
exists iff m = 0, a semi row iff m > 0.  Those terms change exactly
where a key's count crosses zero:

  term 1 (delta rows of the preserved side): gated on the post-delta
    count m' against the other side's R ∪ ΔR;
  term 2 (existing preserved rows): keys whose count crosses zero under
    the other side's delta — 0→+ (``__flip`` = +1) and +→0 (−1), found
    as Δm per DISTINCT preserved key against the old count.

Everything join-family specific lives in two parameters:

- ``match(a, b, broadcast)`` — the candidate-pair generator: the INNER
  join of a left-shaped relation ``a`` with a right-shaped ``b`` (key
  equality included), output all ``a`` columns + ``b``'s non-key
  columns; ``broadcast`` names the delta-derived side ('left' /
  'right') the generator should broadcast.  Extra columns (weights,
  tags) ride along untouched.
- ``kp_l`` / ``kp_r`` — each side's match-count key: the columns that
  fully determine a row's match set (shared keys + every column the
  condition reads).  Counts group on them; probes project on them.

The generators live with their join families: thetajoin (broadcast
nested-loop probe on an arbitrary condition), ineqjoin (dyadic
equi-join for ``l.x < r.y``) and rangejoin (interval bins for
``lo <= p <= hi``).  Every count bookkeeping join here is NULL-SAFE: a
general condition (e.g. one wrapped in ``coalesce``) may match rows
with NULL referenced columns, and those keys must still group.

Scale shape: the base sides are only probed through broadcast
delta-derived sets (delta rows, distinct affected keys, flip sets); the
only shuffles are match-count aggregations over delta-matched slices —
O(|Δ| + affected keys).  Independent branches are built concurrently
(``pin.build_all``) and the fused probes A = ΔL × (R ∪ ΔR) and
C = (L ∪ ΔL) × ΔR, each feeding a matched branch and a term-1 count,
are pinned once (``pin_all``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ivm_extension_spark.operators import colops
from ivm_extension_spark.operators.colops import q
from ivm_extension_spark.operators.pin import build_all, pin_all

Match = Callable[[DataFrame, DataFrame, "str | None"], DataFrame]

_SIGN = "__ivm_sign"
_TAG_L, _TAG_R = "__cj_dl", "__cj_dr"


def probe_join(side: DataFrame, keys: DataFrame, cols: list[str], how: str) -> DataFrame:
    """NULL-safe join of ``side`` against the small ``keys`` relation on
    ``cols`` (keys is broadcast; its non-key payload columns ride along
    on inner joins).  ``how`` is 'inner', 'leftsemi' or 'left_anti'.
    One SQL text: rename + hinted join + projection."""
    ksub = ", ".join(
        [f"{q(c)} AS {q('__mk_' + c)}" for c in cols]
        + [q(c) for c in keys.columns if c not in cols]
    )
    on = " AND ".join(f"__s.{q(c)} <=> __k.{q('__mk_' + c)}" for c in cols)
    proj = "__s.*"
    if how == "inner":
        proj = ", ".join([proj] + [f"__k.{q(c)}" for c in keys.columns if c not in cols])
    jkind = {"inner": "JOIN", "left_anti": "LEFT ANTI JOIN", "leftsemi": "LEFT SEMI JOIN"}[how]
    return colops.sql_over(
        f"SELECT /*+ BROADCAST(__k) */ {proj} FROM {{s}} AS __s "
        f"{jkind} (SELECT {ksub} FROM {{k}}) AS __k ON {on}",
        s=side,
        k=keys,
    )


def null_pad(
    side: DataFrame,
    matched_keys: DataFrame,
    cols: list[str],
    other: DataFrame,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """Rows of ``side`` whose ``cols`` never appear in ``matched_keys``,
    padded with typed NULLs for ``other``'s non-key columns — the
    preserved-side construction.  One SQL text: distinct probe keys +
    anti join + pads."""
    ksub = ", ".join(f"{q(c)} AS {q('__mk_' + c)}" for c in cols)
    on = " AND ".join(f"__s.{q(c)} <=> __k.{q('__mk_' + c)}" for c in cols)
    pads = colops.null_lit_exprs(
        other, [c for c in other.columns if c not in key_cols]
    )
    return colops.sql_over(
        f"SELECT /*+ BROADCAST(__k) */ __s.*, {', '.join(pads)} "
        f"FROM {{s}} AS __s LEFT ANTI JOIN "
        f"(SELECT DISTINCT {ksub} FROM {{k}}) AS __k ON {on}",
        s=side,
        k=matched_keys,
    )


def crossings(dm: DataFrame, m_old: DataFrame, kp: list[str]) -> DataFrame:
    """Keys whose match count crosses zero: ``dm`` holds Δm per key
    (``__dm``), ``m_old`` the old count (``__mold``, absent = 0).
    ``__flip`` = +1 when the key ENTERS the matched set, −1 when it
    LEAVES; other keys are dropped.  Outer rules negate the flip (a key
    entering the matched set retracts its NULL-padded row), anti rules
    too.  One SQL text: rename + NULL-safe join + flip case + filter."""
    ksub = ", ".join(
        [f"{q(c)} AS {q('__mk_' + c)}" for c in kp] + ["`__mold`"]
    )
    on = " AND ".join(f"__s.{q(c)} <=> __k.{q('__mk_' + c)}" for c in kp)
    proj = ", ".join(f"__s.{q(c)}" for c in kp)
    return colops.sql_over(
        f"SELECT * FROM (SELECT /*+ BROADCAST(__k) */ {proj}, "
        f"{colops.flip_case(1)} "
        f"FROM {{s}} AS __s LEFT JOIN (SELECT {ksub} FROM {{k}}) AS __k ON {on}) "
        "WHERE `__flip` IS NOT NULL",
        s=dm,
        k=m_old,
    )


def _signed(d: DataFrame | None, w: str) -> DataFrame | None:
    from ivm_extension_spark.operators.rewrite import MULT_COL

    return None if d is None else colops.signed(d, MULT_COL, w)


def _out(branches: list[DataFrame], ocq: list[str]) -> DataFrame:
    """Union the signed branches (input order) and turn the sign back
    into the bool multiplicity."""
    from ivm_extension_spark.operators.rewrite import MULT_COL

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.selectExpr(*ocq, f"{_SIGN} > 0 AS {q(MULT_COL)}")


def _out_cols(left: DataFrame, right: DataFrame, key_cols) -> list[str]:
    return [*left.columns, *[c for c in right.columns if c not in key_cols]]


def _need_delta(d_left, d_right) -> None:
    if d_left is None and d_right is None:
        raise ValueError("at least one side needs a delta")


def _oriented(match: Match, pres_is_left: bool) -> Callable:
    """``match`` with the PRESERVED side first: ``m(p, o, bcast_p)``
    broadcasts the preserved-side input when ``bcast_p``, else the
    other side's."""
    if pres_is_left:
        return lambda p, o, bcast_p: match(p, o, "left" if bcast_p else "right")
    return lambda p, o, bcast_p: match(o, p, "right" if bcast_p else "left")


def _m_pos(probe: DataFrame, kp: list[str], w: str) -> DataFrame:
    """Keys of ``kp`` whose signed match count (sum of ``w``) is > 0."""
    return (
        probe.groupBy(*kp)
        .agg(F.sum(w).alias("__m"))
        .filter(F.col("__m") > 0)
        .selectExpr(*[q(c) for c in kp])
    )


def _flips(
    m, P: DataFrame, kp_p: list[str], d_o: DataFrame, o_keys: DataFrame, w_o: str
) -> DataFrame:
    """Term 2's crossing keys of the preserved side ``P`` under the
    other side's signed delta ``d_o``: Δm per affected DISTINCT ``P``
    key (several rows sharing a key flip together — the count is a
    per-KEY quantity), then the old count for exactly those keys
    against ``o_keys``, the other side's base projected on its
    match-count key."""
    kpq = [q(c) for c in kp_p]
    dm = (
        m(P.selectExpr(*kpq).distinct(), d_o, False)
        .groupBy(*kp_p)
        .agg(F.sum(w_o).alias("__dm"))
        .filter(F.col("__dm") != 0)
    )
    m_old = (
        m(dm.selectExpr(*kpq), o_keys, True)
        .groupBy(*kp_p)
        .agg(F.count(F.lit(1)).alias("__mold"))
    )
    return crossings(dm, m_old, kp_p)


def _primed(base: DataFrame, d: DataFrame | None, w: str, tag: str) -> DataFrame:
    """base ∪ Δ with unit weights on the base rows and a delta tag."""
    out = base.selectExpr("*", f"1 AS {q(w)}", f"false AS {q(tag)}")
    if d is not None:
        out = out.unionByName(d.selectExpr("*", f"true AS {q(tag)}"))
    return out


def inner_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    match: Match,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """Δ(L ⋈ R) = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR with sign products, the delta side
    broadcast in every branch.  Deltas carry the bool multiplicity;
    output = joined columns + the multiplicity bool."""
    _need_delta(d_left, d_right)
    dl, dr = _signed(d_left, "__wl"), _signed(d_right, "__wr")
    oc = _out_cols(left, right, key_cols)
    ocq = [q(c) for c in oc]
    thunks: list = []
    if dl is not None:
        thunks.append(
            lambda: match(dl, right, "left").selectExpr(*ocq, f"`__wl` AS {_SIGN}")
        )
    if dr is not None:
        thunks.append(
            lambda: match(left, dr, "right").selectExpr(*ocq, f"`__wr` AS {_SIGN}")
        )
    if dl is not None and dr is not None:
        thunks.append(
            lambda: match(dl, dr, "left").selectExpr(
                *ocq, f"`__wl` * `__wr` AS {_SIGN}"
            )
        )
    return _out(build_all(*thunks), ocq)


def left_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    match: Match,
    key_cols: tuple[str, ...],
    kp_l: list[str],
    kp_r: list[str],
) -> DataFrame:
    """Δ(L ⟕ R): the matched three-branch rule plus the left NULL-pad
    terms.  ONE tagged probe A = ΔL × (R ∪ ΔR) yields both matched ΔL
    branches AND the per-ΔL-key post-delta counts for term 1 (summing
    over duplicate delta rows scales a count by a positive factor,
    leaving the m > 0 test unchanged); A is pinned inside its branch so
    the checkpoint job overlaps the sibling constructions."""
    _need_delta(d_left, d_right)
    dl, dr = _signed(d_left, "__wl"), _signed(d_right, "__wr")
    oc = _out_cols(left, right, key_cols)
    ocq = [q(c) for c in oc]
    m = _oriented(match, True)

    def _a_group() -> list[DataFrame]:
        A = m(dl, _primed(right, dr, "__wr", _TAG_R), True).localCheckpoint(eager=True)
        return _a_terms(A, dl, right, key_cols, kp_l, ocq)

    thunks: list = []
    if dl is not None:
        thunks.append(_a_group)
    if dr is not None:
        thunks.append(
            lambda: [match(left, dr, "right").selectExpr(*ocq, f"`__wr` AS {_SIGN}")]
        )
        thunks.append(
            lambda: [_flip_rows(m, left, kp_l, dr, right, kp_r, "__wr", oc)]
        )
    return _out([b for g in build_all(*thunks) for b in g], ocq)


def full_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    match: Match,
    key_cols: tuple[str, ...],
    kp_l: list[str],
    kp_r: list[str],
) -> DataFrame:
    """Δ(L ⟗ R): the LEFT rule plus the mirrored right-preserved terms —
    ΔR rows with zero matches in L ∪ ΔL, and existing right keys whose
    left-match count crosses zero under ΔL.  A = ΔL × (R ∪ ΔR) and
    C = (L ∪ ΔL) × ΔR each feed a matched branch and a term-1 count;
    both are pinned concurrently before the branches are built."""
    _need_delta(d_left, d_right)
    dl, dr = _signed(d_left, "__wl"), _signed(d_right, "__wr")
    oc = _out_cols(left, right, key_cols)
    ocq = [q(c) for c in oc]
    ml, mr = _oriented(match, True), _oriented(match, False)
    A, C = pin_all(
        ml(dl, _primed(right, dr, "__wr", _TAG_R), True) if dl is not None else None,
        mr(dr, _primed(left, dl, "__wl", _TAG_L), True) if dr is not None else None,
    )

    def _c_group() -> list[DataFrame]:
        # L ⋈ ΔR over old-L rows only — ΔL⋈ΔR already came from A
        b2 = C.filter(f"NOT {q(_TAG_L)}") if dl is not None else C
        t1 = null_pad(dr, _m_pos(C, kp_r, "__wl"), kp_r, left, key_cols)
        return [
            b2.selectExpr(*ocq, f"`__wr` AS {_SIGN}"),
            t1.selectExpr(*ocq, f"`__wr` AS {_SIGN}"),
        ]

    thunks: list = []
    if A is not None:
        thunks.append(lambda: _a_terms(A, dl, right, key_cols, kp_l, ocq))
    if C is not None:
        thunks.append(_c_group)
    if dr is not None:
        thunks.append(
            lambda: [_flip_rows(ml, left, kp_l, dr, right, kp_r, "__wr", oc)]
        )
    if dl is not None:
        # against OLD right — deleted right rows' spurious terms cancel
        # against the matched and term-1 branches
        thunks.append(
            lambda: [_flip_rows(mr, right, kp_r, dl, left, kp_l, "__wl", oc)]
        )
    return _out([b for g in build_all(*thunks) for b in g], ocq)


def _a_terms(
    A: DataFrame, dl: DataFrame, right: DataFrame, key_cols, kp_l, ocq
) -> list[DataFrame]:
    """From the pinned A = ΔL × (R ∪ ΔR): the ΔL⋈R (sign w_l) and
    ΔL⋈ΔR (w_l·w_r) matched branches, and term 1 — ΔL rows with no
    match in R ∪ ΔR, NULL-padded."""
    matched = A.selectExpr(
        *ocq, f"`__wl` * (CASE WHEN {q(_TAG_R)} THEN `__wr` ELSE 1 END) AS {_SIGN}"
    )
    t1 = null_pad(dl, _m_pos(A, kp_l, "__wr"), kp_l, right, key_cols)
    return [matched, t1.selectExpr(*ocq, f"`__wl` AS {_SIGN}")]


def _flip_rows(m, P, kp_p, d_o, O, kp_o, w_o, oc) -> DataFrame:
    """Term 2 of an outer rule: existing ``P`` rows of a crossing key,
    NULL-padded to the output columns ``oc`` with the NEGATED flip as
    their sign (a key entering the matched set retracts its pad row)."""
    o_keys = O.selectExpr(*[q(c) for c in kp_o])
    t2 = probe_join(P, _flips(m, P, kp_p, d_o, o_keys, w_o), kp_p, "inner")
    pcols = set(P.columns)
    return t2.selectExpr(
        *[
            q(c) if c in pcols else colops.null_lit_exprs(O, [c])[0]
            for c in oc
        ],
        f"-`__flip` AS {_SIGN}",
    )


def semi_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    match: Match,
    kp_l: list[str],
    kp_r: list[str],
) -> DataFrame:
    """Δ(L ⋉ R): ΔL rows whose key has m' > 0 against R ∪ ΔR, plus
    existing L rows of keys whose count crosses zero under ΔR (0→+
    inserts them, +→0 deletes them).  Output: left columns + the
    multiplicity bool."""
    return _semi_anti(
        left, right, d_left, d_right, match, kp_l, kp_r, "leftsemi", "`__flip`"
    )


def anti_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    match: Match,
    kp_l: list[str],
    kp_r: list[str],
) -> DataFrame:
    """Δ(L ▷ R): the complement of :func:`semi_delta` — ΔL rows count on
    m' ≤ 0 and crossings apply with the opposite sign."""
    return _semi_anti(
        left, right, d_left, d_right, match, kp_l, kp_r, "left_anti", "-`__flip`"
    )


def _semi_anti(left, right, d_left, d_right, match, kp_l, kp_r, gate, fsign):
    """Both semi/anti terms; ``gate`` is term 1's probe join kind and
    ``fsign`` term 2's sign expression."""
    _need_delta(d_left, d_right)
    dl, dr = _signed(d_left, "__wl"), _signed(d_right, "__wr")
    kpq, rpq = [q(c) for c in kp_l], [q(c) for c in kp_r]
    lcq = [q(c) for c in left.columns]
    rproj = right.selectExpr(*rpq)
    m = _oriented(match, True)

    def _term1() -> DataFrame:
        rprime = rproj.selectExpr("*", "1 AS `__wr`")
        if dr is not None:
            rprime = rprime.unionByName(dr.selectExpr(*rpq, "`__wr`"))
        m_pos = _m_pos(m(dl.selectExpr(*kpq).distinct(), rprime, True), kp_l, "__wr")
        return probe_join(dl, m_pos, kp_l, gate).selectExpr(*lcq, f"`__wl` AS {_SIGN}")

    def _term2() -> DataFrame:
        flips = _flips(m, left, kp_l, dr, rproj, "__wr")
        return probe_join(left, flips, kp_l, "inner").selectExpr(
            *lcq, f"{fsign} AS {_SIGN}"
        )

    thunks: list = []
    if dl is not None:
        thunks.append(_term1)
    if dr is not None:
        thunks.append(_term2)
    return _out(build_all(*thunks), lcq)
