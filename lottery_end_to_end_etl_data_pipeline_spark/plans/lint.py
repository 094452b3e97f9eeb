"""Physical-plan linter: automated detection of the scale
anti-patterns this engine's docs warn about, so "would this survive a
100× scale-up?" is a callable check instead of a review habit.

Walks the physical plan tree (unwrapping AQE) and flags:

- ``cartesian-product`` (warn): CartesianProductExec — O(n·m) row
  pairing with no join key.
- ``nested-loop-join`` (warn): BroadcastNestedLoopJoinExec — the
  fallback for non-equi / keyless joins; fine for a 1-row broadcast
  aggregate, a scale-killer when the broadcast side is a real table.
- ``row-python-udf`` (warn): BatchEvalPythonExec — row-at-a-time
  Python in the hot path (~10-100× slower than built-ins/Arrow).
- ``arrow-python-udf`` (info): ArrowEvalPythonExec / Pandas kernels —
  legitimate where used deliberately; surfaced so reviewers see them.
- ``global-window`` (warn): a Window with an empty PARTITION BY —
  every row flows through ONE task (the `skew.top_keys` lesson).
- ``single-partition-exchange`` (warn): Exchange to SinglePartition —
  a one-task bottleneck stage (global sort collectors, `coalesce(1)`
  writes). CollectLimit/TakeOrderedAndProject do NOT trip this —
  their single-task step handles k rows, not the table.

Usage::

    findings = lint_plan(df)              # inspect / log
    assert_scalable(df)                   # raise on any warn
    assert_scalable(df, allow={"nested-loop-join"})  # documented use

`assert_scalable` is meant for tests and CI gates next to the plan
asserts in `tests/test_plans.py`; `allow` records *reviewed* uses
(e.g. a deliberate 1-row broadcast crossJoin) at the call site.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Finding:
    rule: str
    severity: str  # "warn" | "info"
    node: str
    detail: str


class PlanLintError(AssertionError):
    """Raised by assert_scalable when warn-level findings remain."""


def _walk(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        # Lint the pre-execution plan; post-execution re-lint sees the
        # AQE-final tree the same way.
        yield from _walk(node.initialPlan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def lint_plan(df: DataFrame) -> list[Finding]:
    findings: list[Finding] = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _walk(plan):
        name = node.getClass().getSimpleName()
        if name == "CartesianProductExec":
            findings.append(
                Finding("cartesian-product", "warn", name,
                        "keyless join pairs every row with every row")
            )
        elif name == "BroadcastNestedLoopJoinExec":
            findings.append(
                Finding("nested-loop-join", "warn", name,
                        "non-equi/keyless join; fine only when the "
                        "broadcast side is scalar-sized")
            )
        elif name == "BatchEvalPythonExec":
            findings.append(
                Finding("row-python-udf", "warn", name,
                        "row-at-a-time Python UDF in the hot path")
            )
        elif name in ("ArrowEvalPythonExec", "MapInPandasExec", "MapInArrowExec",
                      "FlatMapGroupsInPandasExec"):
            findings.append(
                Finding("arrow-python-udf", "info", name,
                        "Arrow-batched Python stage (deliberate kernels only)")
            )
        elif name in ("WindowExec", "WindowGroupLimitExec"):
            try:
                empty = node.partitionSpec().isEmpty()
            except Exception:
                empty = False
            if empty:
                findings.append(
                    Finding("global-window", "warn", name,
                            "window with empty PARTITION BY funnels all "
                            "rows through one task")
                )
        elif name == "ExpandExec":
            # Catalyst plans N exact DISTINCT aggregates in one pass by
            # EXPANDING every input row N+1 times (grouping-set id per
            # copy): row volume multiplies by the projection count
            # before the shuffle. Fine for grouping sets / a couple of
            # countDistincts; a whole-table exact profiler over K
            # columns replays the table K+1 times — the worst scaler in
            # docs/SCALING.md (column_profile_all, b_hi +0.77). The
            # production path is approx_count_distinct (no Expand);
            # keep exact multi-distinct for oracle checks only.
            try:
                n_proj = node.projections().size()
            except Exception:
                n_proj = 0
            if n_proj > 6:
                findings.append(
                    Finding(
                        "expand-multi-distinct", "warn", name,
                        f"Expand multiplies every row x{n_proj} before "
                        "the shuffle; use approx_count_distinct or gate "
                        "on column count",
                    )
                )
        elif name == "ShuffleExchangeExec":
            if node.outputPartitioning().toString() == "SinglePartition":
                # The final stage of a GLOBAL aggregate legitimately
                # exchanges to one partition: it carries one
                # partial-agg row per upstream task, not the table.
                # Flag only non-aggregate feeds (global sorts,
                # coalesce-to-one shapes).
                child = node.children().apply(0)
                while child.getClass().getSimpleName() in (
                    "WholeStageCodegenExec",
                    "InputAdapter",
                ):
                    child = child.children().apply(0)
                if child.getClass().getSimpleName() not in (
                    "HashAggregateExec",
                    "ObjectHashAggregateExec",
                    "SortAggregateExec",
                ):
                    findings.append(
                        Finding("single-partition-exchange", "warn", name,
                                "exchange collapses the data to one task")
                    )
    return findings


def _expr_walk(e):
    yield e
    ch = e.children()
    for i in range(ch.size()):
        yield from _expr_walk(ch.apply(i))


def _expr_walk_env(e, env, _seen=None):
    """_expr_walk that CHASES attribute references through the plan's
    alias environment (exprId -> defining expression), so a round over
    an alias of a lower-level sum classifies by the sum it actually
    rounds, not by the opaque AttributeReference (r09 continuation
    review: the top-node-only walk returned zero findings for
    agg(sum(x).alias('s')).select(round('s', 2)))."""
    if _seen is None:
        _seen = set()
    yield e
    if e.getClass().getSimpleName() == "AttributeReference":
        try:
            eid = e.exprId().id()
        except Exception:
            return
        if eid in env and eid not in _seen:
            _seen.add(eid)
            yield from _expr_walk_env(env[eid], env, _seen)
        return
    ch = e.children()
    for i in range(ch.size()):
        yield from _expr_walk_env(ch.apply(i), env, _seen)


def _attr_env(plan) -> dict:
    """exprId -> defining child expression, collected from every
    Project/Aggregate alias ANYWHERE in the plan tree (including CTE
    definitions — WithCTE's children are cteDefs :+ plan, all of
    which get visited)."""
    env: dict = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        nm = node.getClass().getSimpleName()
        exprs = None
        if nm == "Project":
            exprs = node.projectList()
        elif nm == "Aggregate":
            exprs = node.aggregateExpressions()
        if exprs is not None:
            for i in range(exprs.size()):
                e = exprs.apply(i)
                if e.getClass().getSimpleName() == "Alias":
                    try:
                        env[e.exprId().id()] = e.child()
                    except Exception:
                        pass
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return env


def _is_double(e) -> bool:
    try:
        return e.dataType().typeName() in ("double", "float")
    except Exception:
        return False


def _resolve_source(e, env, depth: int = 16):
    """Unwrap casts/aliases AND chase attribute references through
    the plan alias environment until a source expression is reached —
    so `cast(n as double).alias('nd')` referenced one level up still
    classifies by its integer source, and a literal operand behind an
    alias still reads as a literal (r09 continuation self-review:
    the syntactic unwrap alone stopped at the AttributeReference)."""
    for _ in range(depth):
        nm = e.getClass().getSimpleName()
        if nm == "Cast":
            e = e.children().apply(0)
        elif nm == "Alias":
            e = e.child()
        elif nm == "AttributeReference" and env:
            try:
                eid = e.exprId().id()
            except Exception:
                break
            nxt = env.get(eid)
            if nxt is None:
                break
            e = nxt
        else:
            break
    return e


_OFFGRID_FUNCS = {
    "Divide",
    "Exp",
    "Expm1",
    "Log",
    "Logarithm",
    "Log1p",
    "Log2",
    "Log10",
    "Sqrt",
    "Pow",
    "Cbrt",
    "Sin",
    "Cos",
    "Tan",
    "Atan",
    "Atan2",
}


def _is_literal(e, env=None) -> bool:
    return (
        _resolve_source(e, env or {}).getClass().getSimpleName() == "Literal"
    )


_EXACT_IN_DOUBLE = {"integer", "long", "short", "byte", "boolean"}


def _offgrid(e, env=None) -> bool:
    """True if the expression leaves the source value grid: division,
    transcendentals, or products of two non-literal operands (a price
    x rate product lands on a FINER grid than either input — the
    ROUND8.md class (b)); literal-scaled add/subtract/multiply keep
    the grid (class (a))."""
    walk = _expr_walk(e) if env is None else _expr_walk_env(e, env)
    for n in walk:
        nm = n.getClass().getSimpleName()
        if nm in _OFFGRID_FUNCS:
            return True
        if nm == "Multiply":
            ch = n.children()
            if not (
                _is_literal(ch.apply(0), env) or _is_literal(ch.apply(1), env)
            ):
                return True
    return False


def _sums_doubles(e, env=None) -> str | None:
    """Classify floating-point accumulation under a rounded output
    (ROUND8.md taxonomy): "offgrid" — Sum/Average accumulating
    doubles whose source grid gives the rounding no margin; "money" —
    Sum over a grid-preserving double (a fixed-decimal source,
    literal-scaled): the true sum sits ON the rounding grid, so
    ~1e-8 ulp jitter sits 5+ orders from the boundary (class (a),
    safe by design). Returns None for exact accumulations.

    Classification is by the DIRECT accumulation type first (r09
    continuation review: unwrapping casts misread the accumulation —
    Sum(cast(double_expr AS decimal)) is an EXACT decimal sum, the
    lint's own recommended remediation, and was warned; Sum(
    cast(decimal AS double)) is a genuinely floating accumulation
    and was cleared). Integer-typed sources cast to double stay
    clean: integer-valued doubles add exactly (2^53 caveat noted in
    ROUND8.md)."""
    worst = None
    walk = _expr_walk(e) if env is None else _expr_walk_env(e, env)
    for n in walk:
        nm = n.getClass().getSimpleName()
        if nm not in ("Average", "Sum"):
            continue
        child = n.children().apply(0)
        if not _is_double(child):
            continue  # decimal/integer accumulation: exact
        src = _resolve_source(child, env or {})
        try:
            src_exact_int = src.dataType().typeName() in _EXACT_IN_DOUBLE
        except Exception:
            src_exact_int = False
        if src_exact_int:
            continue  # integer-valued double addends: exact sum
        if nm == "Average":
            return "offgrid"  # divides by count: quotient off-grid
        if _offgrid(child, env):
            return "offgrid"
        worst = "money"
    return worst


def _has_double_subtract(e, env=None) -> bool:
    walk = _expr_walk(e) if env is None else _expr_walk_env(e, env)
    for n in walk:
        if n.getClass().getSimpleName() == "Subtract" and _is_double(n):
            return True
    return False


def lint_rounded_doubles(df: DataFrame) -> list[Finding]:
    """Round-risk scan of a query's OUTPUT expressions (VERDICT r8 #4)
    — the static half of the determinism gate for hash-compared
    catalog entries. Two rules, matched to the two measured failure
    classes (docs/ROUND8.md taxonomy + the r09 signed-zero root
    cause):

    - ``round-double-sum`` (warn): a returned ``round(x, n)`` whose
      subtree accumulates doubles with Sum/Average — the summation
      order varies with partitioning/task scheduling, so the rounded
      last digit can flip between runs (the r07 flake class). The
      bar is ZERO: aggregate exact integers/decimals first (units,
      cents, micro-units) and do double algebra on the tiny result.
      `round(sum(cents)/100.0, 2)` and `round(avg(int_col), 4)` are
      NOT flagged — their numerators are exact, division happens once.
    - ``round-negative-capable`` (info): a returned ``round(x, n)``
      over a double subtraction — when x is a tiny negative, DuckDB's
      round returns -0.0 where Spark's BigDecimal round returns +0.0,
      which a repr-hashing comparator distinguishes (the r07/r08
      driver reds on kfold_cv_ridge / price_volume_mix_decomposition,
      root-caused r09). Info, not warn, because the runtime mirror
      (tools/check_oracle.py) now fails any divergent -0.0 and WARNs
      on any agreeing -0.0 at sf0.01 — the static rule is the review
      pointer, the runtime sweep is the gate. Tagged INDEPENDENTLY of
      the sum classification (a money-sum subtraction like
      round(sum(rev) - sum(cost), 2) is both classes — r09
      continuation review: the elif chain hid the -0.0 pointer
      whenever a money sum was present).

    Walks EVERY Project/Aggregate in the analyzed plan (r09
    continuation review: the top-node-only walk missed rounds below
    Filter/Join roots and inside CTE definitions entirely, and an
    aliased lower-level sum classified as an opaque attribute), with
    attribute references chased through the plan-wide alias
    environment. Rounds in filter/join predicates are not output
    columns and stay out of scope."""
    findings: list[Finding] = []
    root = df._jdf.queryExecution().analyzed()
    env = _attr_env(root)

    stack = [root]
    seen_cols: set[tuple[str, str]] = set()
    while stack:
        node = stack.pop()
        nm = node.getClass().getSimpleName()
        exprs = None
        if nm == "Project":
            exprs = node.projectList()
        elif nm == "Aggregate":
            exprs = node.aggregateExpressions()
        if exprs is not None:
            for i in range(exprs.size()):
                top = exprs.apply(i)
                try:
                    col = top.name()
                except Exception:
                    col = top.toString()
                # Dedupe key: the NamedExpression's exprId is unique
                # per output attribute, so two same-named columns in
                # different subplans/CTEs report separately, while
                # re-visits of the SAME attribute (alias chasing /
                # plan re-walks) stay deduped. Fallback keys on the
                # owning node's JVM hashCode, not the bare name.
                try:
                    col_key = f"eid:{top.exprId().id()}"
                except Exception:
                    col_key = f"node:{node.hashCode()}:{col}"
                for e in _expr_walk(top):
                    if e.getClass().getSimpleName() not in ("Round", "BRound"):
                        continue
                    arg = e.children().apply(0)
                    if not _is_double(arg):
                        continue
                    acc = _sums_doubles(arg, env)
                    if acc == "offgrid":
                        hits = [(
                            "round-double-sum", "warn",
                            f"column `{col}` rounds an order-dependent "
                            "OFF-GRID double accumulation (sum of "
                            "quotients/products, or average of doubles) "
                            "— aggregate exact ints first",
                        )]
                    elif acc == "money":
                        hits = [(
                            "round-money-sum", "info",
                            f"column `{col}` rounds a grid-preserving "
                            "double sum (2-decimal money class (a): true "
                            "sum on the grid, 5+ orders of margin)",
                        )]
                    else:
                        hits = []
                    if _has_double_subtract(arg, env):
                        hits.append((
                            "round-negative-capable", "info",
                            f"column `{col}` rounds a double subtraction "
                            "— -0.0 divergence class; covered by the "
                            "runtime signed-zero sweep",
                        ))
                    for rule, sev, detail in hits:
                        if (rule, col_key) not in seen_cols:
                            seen_cols.add((rule, col_key))
                            findings.append(Finding(rule, sev, "Round", detail))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return findings


def assert_scalable(df: DataFrame, allow: set[str] = frozenset()) -> list[Finding]:
    """Raise PlanLintError if any warn-level finding is not in
    `allow`; returns the full finding list (incl. info) otherwise."""
    findings = lint_plan(df)
    bad = [f for f in findings if f.severity == "warn" and f.rule not in allow]
    if bad:
        lines = "; ".join(f"{f.rule} ({f.node}): {f.detail}" for f in bad)
        raise PlanLintError(f"plan has scale anti-patterns: {lines}")
    return findings
