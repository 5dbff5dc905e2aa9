#!/usr/bin/env python
"""Physical-plan audit: print formatted plans for the headline queries
and flag scale hazards (missing filter pushdown, unexpected
sort-merge joins of small dims, full-column scans, cartesian
products).

    python tools/explain_audit.py [names...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tool_rep_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


# Queries whose non-equi/cross join has a REAL bound the logical
# plan cannot expose (round 8 shrank this list from ~70 names to the
# six below: `audit_nonequi_joins` now PROVES the bounded side for
# everything else — scalar attaches, literal grids, rank-utility
# triangular offsets — via the row-bound/attr-provenance propagator,
# and the old text-only BroadcastNestedLoopJoin check was retired in
# its favor). Every surviving entry states why the bound is
# plan-opaque; for these the rule still requires an explicitly
# broadcast or <=1-row side (the relaxed tier in audit_nonequi_joins).
_NESTED_LOOP_OK = {
    # brute-force KNN / rerank: the query side is a LIMIT-bounded or
    # construction-bounded probe set read back through createDataFrame
    # or a second scan of the same relation (LogicalRelation x
    # LogicalRelation — the probe bound lives in the query text, not
    # the plan); the scan is |corpus| x |probes| by design
    "embedding_knn", "mmr_rerank",
    # rank-utility offset join over groups with an unbounded declared
    # domain (per-nation frames — real bound 25, but the grouping
    # column is produced by a join the propagator won't cross)
    "ratio_to_report",
    # spatial: cells cross the 9-row neighbor-offset / 3-row zoom
    # grids built via createDataFrame -> LogicalRDD (opaque bound)
    "spatial_radius_join", "spatial_cell_rollup",
    # Round-9 (verdict item #3): ann_pq_knn / ann_ivf_knn left the
    # list via a plan-visible limit(5) on their probe frames (plus
    # ArrowEvalPython row-preservation in _row_bound); perceptron_
    # train left it by rooting its weight frame in Range(1) instead
    # of an opaque createDataFrame LogicalRDD.
}
# Round-9 (verdict item #1): declared keys whose RETURN materializes
# a data-sized dimension (per-user streaming state) and therefore
# MUST come back as a distributed file read — any LogicalRDD or
# non-empty LocalRelation in the optimized plan means the frame took
# a collect()+createDataFrame round-trip through the driver (an OOM
# at 100 TB, where the user dimension is O(1e8) rows).
_DISTRIBUTED_SNAPSHOT_REQUIRED = {
    "streaming_foreachbatch_upsert",
    "streaming_lakehouse_ingest",
}

# Documented domain bounds for grouping keys: an Aggregate grouping
# ONLY on these columns has at most the product of their bounds as
# output rows. These are data-dictionary facts about the test-bed
# schema (TPC-H enums, the documents corpus dimensions) plus
# literal-computed buckets whose range the query fixes — NOT guesses:
# each value states where the bound comes from.
_DOMAIN_BOUNDS = {
    # TPC-H enumerations (spec-fixed domains)
    "l_returnflag": 3, "l_linestatus": 2,
    "o_orderstatus": 3, "o_orderpriority": 5,
    "l_shipmode": 7, "l_shipinstruct": 4,
    "c_mktsegment": 5, "n_name": 25, "r_name": 5,
    "n_nationkey": 25, "n_regionkey": 5, "r_regionkey": 5,
    "nation": 25, "region": 5, "cust_nation": 25, "supp_nation": 25,
    # documents/events corpus dimensions (generator-fixed)
    "lang": 16, "source": 16, "event_type": 16,
    # query-computed buckets with literal ranges
    "decile": 10, "bucket": 64, "bin": 64, "b": 64, "k": 64,
    "fold": 16, "variant": 2, "flag": 3, "seg": 16, "grp": 16,
    "prio": 5, "cls": 16, "label": 16, "y": 2, "side": 2,
    "zoom": 4, "band": 64, "thr": 64, "quantile": 64, "q": 64,
}
# an Aggregate whose grouping-domain product is at most this many
# rows is "dimension-sized" — safe under a global window / as the
# bounded side of a non-equi join
_SMALL_BOUND = 100_000

# logical node wrappers that don't change a subtree's row bound
_TRANSPARENT = {"Project", "Filter", "SubqueryAlias", "ResolvedHint",
                "Repartition", "RepartitionByExpression", "Sort",
                "WithCTE", "CTERelationRef", "Window"}


def _unwrap(node):
    while node.getClass().getSimpleName() in _TRANSPARENT \
            and node.children().size() == 1:
        node = node.children().apply(0)
    return node


def _is_scalar_side(node) -> bool:
    """True when the subtree is <=1 row by construction: a
    grouping-free Aggregate (scalar attach) or limit(1)."""
    node = _unwrap(node)
    cls = node.getClass().getSimpleName()
    if cls == "Aggregate":
        return node.groupingExpressions().isEmpty()
    if cls in ("GlobalLimit", "LocalLimit"):
        try:
            return int(node.limitExpr().toString()) <= 1
        except ValueError:
            return False
    if cls == "OneRowRelation":
        return True
    return False


def _has_broadcast_hint(join, side: str) -> bool:
    opt = join.hint().leftHint() if side == "left" \
        else join.hint().rightHint()
    return opt.isDefined() and "broadcast" in \
        opt.get().toString().lower()


def audit_cross_sides(df) -> list[str]:
    """Walk the optimized logical plan; every cross/condition-less
    join must have a side that is provably <=1 row (scalar attach) or
    explicitly broadcast (bounded-by-construction rerank/knn query
    sets). This runs on ALLOWLISTED queries too — the allowlist
    permits the join shape, not an unbounded cartesian."""
    bad = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
        if node.getClass().getSimpleName() != "Join":
            continue
        cross = (node.joinType().toString() == "Cross"
                 or not node.condition().isDefined())
        if not cross:
            continue
        ok = (_is_scalar_side(node.left())
              or _is_scalar_side(node.right())
              or _has_broadcast_hint(node, "left")
              or _has_broadcast_hint(node, "right"))
        if not ok:
            sides = "{} x {}".format(
                _unwrap(node.left()).getClass().getSimpleName(),
                _unwrap(node.right()).getClass().getSimpleName())
            bad.append(f"unbounded cross join: {sides}")
    return bad


def _expr_bound(expr) -> int | None:
    """Domain bound of one grouping expression: a literal is 1
    value; a (possibly aliased/cast) column reference takes its
    documented `_DOMAIN_BOUNDS` entry. None = unknown."""
    cls = expr.getClass().getSimpleName()
    if cls == "Literal":
        return 1
    if cls in ("Alias", "Cast"):
        return _expr_bound(expr.children().apply(0))
    if cls == "AttributeReference":
        return _DOMAIN_BOUNDS.get(expr.name())
    return None


def _limit_of(node) -> int | None:
    try:
        return int(node.limitExpr().toString())
    except Exception:  # noqa: BLE001
        return None


def _row_bound(node) -> int | None:
    """Static output-row bound for a logical subtree, or None when
    unbounded/unknown. Replaces the round-7 `_is_small_frame`, which
    trusted ANY Aggregate — a groupBy(user_id) census is data-sized,
    and the old rule waved an unpartitioned Window over it through
    (the ADVICE-flagged blind spot). Bounds come from structure
    (limits, literals, 1-row aggregates) plus `_DOMAIN_BOUNDS`
    products for grouped aggregates."""
    cls = node.getClass().getSimpleName()
    if cls in _TRANSPARENT and node.children().size() == 1:
        return _row_bound(node.children().apply(0))
    if cls in ("ArrowEvalPython", "BatchEvalPython") \
            and node.children().size() == 1:
        # scalar Python-UDF evaluation emits exactly one row per
        # input row — row-PRESERVING, unlike MapInPandas/FlatMap*
        # (which stay opaque): a bound below it survives above it
        return _row_bound(node.children().apply(0))
    if cls == "OneRowRelation":
        return 1
    if cls == "LocalRelation":
        try:
            return node.data().size()
        except Exception:  # noqa: BLE001
            return None
    if cls == "Range":
        try:
            return int(str(node.numElements()))
        except Exception:  # noqa: BLE001
            return None
    if cls in ("GlobalLimit", "LocalLimit"):
        return _limit_of(node)
    if cls == "Sample":
        return _row_bound(node.children().apply(0))
    if cls == "Generate":
        child = _row_bound(node.children().apply(0))
        if child is None:
            return None
        gen = node.generator()
        if gen.getClass().getSimpleName() in ("Explode", "PosExplode"):
            arr = gen.children().apply(0)
            if arr.getClass().getSimpleName() == "CreateArray":
                return child * arr.children().size()
        return None
    if cls == "Aggregate":
        if node.groupingExpressions().isEmpty():
            return 1
        env = None
        total = 1
        ge = node.groupingExpressions()
        for i in range(ge.size()):
            b = _expr_bound(ge.apply(i))
            if b is None:
                # provenance: an attribute's DISTINCT-value count is
                # bounded by the row bound of any subtree that
                # produced it (downstream joins duplicate rows, they
                # never mint new values) — this proves groupings that
                # carry scalar-attach columns (pos, n, totals) along
                if env is None:
                    env = _attr_bounds(node.child())
                ids = _attr_ids(ge.apply(i))
                if ids and all(a in env for a in ids):
                    b = 1
                    for a in ids:
                        b *= env[a]
            if b is None:
                # grouping key cardinality itself is bounded by the
                # child's row bound (census of a bounded frame)
                return _row_bound(node.child())
            total *= b
        return total
    if cls in ("Deduplicate", "Distinct", "Pivot", "Unpivot",
               "Intersect", "Except"):
        return _row_bound(node.children().apply(0))
    if cls == "Expand":
        child = _row_bound(node.children().apply(0))
        if child is None:
            return None
        try:
            return child * node.projections().size()
        except Exception:  # noqa: BLE001
            return None
    if cls == "Union":
        total = 0
        for i in range(node.children().size()):
            b = _row_bound(node.children().apply(i))
            if b is None:
                return None
            total += b
        return total
    if cls == "Join":
        left = _row_bound(node.left())
        right = _row_bound(node.right())
        if left is None or right is None:
            return None
        # outer joins keep unmatched rows: bound by the product
        # plus both inputs (covers left/right/full)
        return left * right + left + right
    return None


def _expr_domain(expr, env: dict[int, int]) -> int | None:
    """Distinct-value bound of an EXPRESSION: literals are one value,
    attributes take documented or provenance bounds, CASE adds branch
    domains, and size-of-bounded-array yields len+1 values — enough
    to prove computed bucket ids (operators/rank.lead_bucket's
    size(filter(<literal array>)) shape) without trusting names."""
    cls = expr.getClass().getSimpleName()
    if cls == "Literal":
        return 1
    if cls in ("Alias", "Cast", "KnownFloatingPointNormalized",
               "NormalizeNaNAndZero"):
        return _expr_domain(expr.children().apply(0), env)
    if cls == "AttributeReference":
        byname = _DOMAIN_BOUNDS.get(expr.name())
        byprov = env.get(expr.exprId().id())
        cands = [b for b in (byname, byprov) if b is not None]
        return min(cands) if cands else None
    if cls == "CaseWhen":
        total = 0
        ch = expr.children()
        # children = [cond1, val1, cond2, val2, ..., else?]
        vals = [ch.apply(i) for i in range(1, ch.size(), 2)]
        if ch.size() % 2 == 1:
            vals.append(ch.apply(ch.size() - 1))
        for v in vals:
            d = _expr_domain(v, env)
            if d is None:
                return None
            total += d
        return total
    if cls == "Size":
        n = _array_len_bound(expr.children().apply(0), env)
        return None if n is None else n + 1
    return None


def _array_len_bound(expr, env) -> int | None:
    """Max length of an array expression, when statically bounded."""
    cls = expr.getClass().getSimpleName()
    if cls == "CreateArray":
        return expr.children().size()
    if cls == "Literal":
        try:
            return int(expr.value().numElements())
        except Exception:  # noqa: BLE001
            return None
    if cls in ("ArrayFilter", "ArrayDistinct", "Slice", "ArraySort",
               "ArrayTransform", "Alias", "Cast"):
        return _array_len_bound(expr.children().apply(0), env)
    return None


def _attr_bounds(root) -> dict[int, int]:
    """exprId -> distinct-value bound for every attribute emitted by
    a subtree with a proven row bound anywhere under ``root``, plus
    Project/Aggregate aliases whose EXPRESSION domain is bounded
    (post-order so producer bounds exist before consumers)."""
    env: dict[int, int] = {}
    order, stack = [], [root]
    while stack:
        n = stack.pop()
        order.append(n)
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
    for n in reversed(order):             # children before parents
        cls = n.getClass().getSimpleName()
        if cls in ("Project", "Aggregate"):
            exprs = (n.projectList() if cls == "Project"
                     else n.aggregateExpressions())
            for i in range(exprs.size()):
                e = exprs.apply(i)
                if e.getClass().getSimpleName() != "Alias":
                    continue
                d = _expr_domain(e.children().apply(0), env)
                if d is not None and d <= _SMALL_BOUND:
                    a = e.exprId().id()
                    env[a] = min(env.get(a, d), d)
        b = _row_bound(n)
        if b is None or b > _SMALL_BOUND:
            continue
        it = n.outputSet().iterator()
        while it.hasNext():
            a = it.next().exprId().id()
            env[a] = min(env.get(a, b), b)
    return env


def _is_small_frame(node) -> bool:
    """True when the subtree has a PROVEN row bound at most
    `_SMALL_BOUND` — dimension-sized by construction."""
    b = _row_bound(node)
    return b is not None and b <= _SMALL_BOUND


def _conjuncts(expr) -> list:
    if expr.getClass().getSimpleName() == "And":
        return (_conjuncts(expr.children().apply(0))
                + _conjuncts(expr.children().apply(1)))
    return [expr]


def _attr_ids(expr) -> set[int]:
    ids, it = set(), expr.references().iterator()
    while it.hasNext():
        ids.add(it.next().exprId().id())
    return ids


def _output_ids(node) -> set[int]:
    ids, it = set(), node.outputSet().iterator()
    while it.hasNext():
        ids.add(it.next().exprId().id())
    return ids


def _has_equi_conjunct(join) -> bool:
    """True when the join condition contains at least one
    equality conjunct with one side referencing only left-output
    attributes and the other only right-output attributes — the
    predicate Spark extracts as a hash-join key."""
    if not join.condition().isDefined():
        return False
    lids, rids = _output_ids(join.left()), _output_ids(join.right())
    for c in _conjuncts(join.condition().get()):
        if c.getClass().getSimpleName() not in ("EqualTo",
                                                "EqualNullSafe"):
            continue
        a = _attr_ids(c.children().apply(0))
        b = _attr_ids(c.children().apply(1))
        if not a or not b:
            continue
        if (a <= lids and b <= rids) or (a <= rids and b <= lids):
            return True
    return False


def audit_nonequi_joins(name: str, df) -> list[str]:
    """Round-8 verdict item #3: a join with NO equi conjunct
    executes as a nested loop whose output is |left| x |right|.

    * NON-allowlisted queries: at least one side must carry a PROVEN
      small row bound (`_row_bound` / `_attr_bounds`). New code pays
      the proof or earns an allowlist entry with a stated bound.
    * `_NESTED_LOOP_OK` queries: the allowlist permits shapes whose
      bound is real but plan-opaque (localCheckpoint turns scalar
      attaches into LogicalRDDs) — but even there, SOME side must be
      proven small, explicitly broadcast-hinted, or <=1 row. This is
      the output-cardinality sanity check that would have caught
      round-7's `negative_sampling`: its anchors x other-language
      join had NO hint and NO bounded side — a sampled-but-
      data-sized left against an unbounded right."""
    allow = name in _NESTED_LOOP_OK
    bad = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
        if node.getClass().getSimpleName() != "Join":
            continue
        if _has_equi_conjunct(node):
            continue
        lb, rb = _row_bound(node.left()), _row_bound(node.right())
        if (lb is not None and lb <= _SMALL_BOUND) \
                or (rb is not None and rb <= _SMALL_BOUND):
            continue
        if allow and (_is_scalar_side(node.left())
                      or _is_scalar_side(node.right())
                      or _has_broadcast_hint(node, "left")
                      or _has_broadcast_hint(node, "right")):
            continue
        sides = "{} x {}".format(
            _unwrap(node.left()).getClass().getSimpleName(),
            _unwrap(node.right()).getClass().getSimpleName())
        bad.append(f"non-equi join with no proven-small side: {sides} "
                   f"(bounds {lb}, {rb})")
    return bad


def audit_window_partitions(name: str, df) -> tuple[list[str],
                                                    list[str]]:
    """Round-7 verdict item #3: flag any Window node whose partition
    spec is EMPTY (global sort — 'Moving all data to a single
    partition') unless the frame it consumes is provably small
    (post-aggregation / limited / literal).

    Returns (flags, notes): a PROVEN-bounded global window emits a
    note instead of a flag — the justification line that tells a
    reader why the runtime's 'WindowExec: No Partition Defined'
    warning for this key is benign (round-11 verdict hygiene ask),
    so nobody re-investigates it from the sweep/bench log tails."""
    bad, notes = [], []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
        if node.getClass().getSimpleName() != "Window":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        b = _row_bound(node.child())
        if b is not None and b <= _SMALL_BOUND:
            notes.append(f"global window OK: input proven <= {b} "
                         "rows (WindowExec warning benign)")
            continue
        bad.append("unpartitioned Window over a non-aggregate frame "
                   "(single-task global sort at scale)")
    return bad, notes


def audit_driver_materialization(name: str, df) -> list[str]:
    """Keys in `_DISTRIBUTED_SNAPSHOT_REQUIRED` must return frames
    whose every leaf is a file-source relation: a LogicalRDD or a
    non-empty LocalRelation proves the user-dimension state was
    round-tripped through the driver. (An EMPTY LocalRelation is
    Catalyst's fold of a provably-empty subtree — harmless.)"""
    if name not in _DISTRIBUTED_SNAPSHOT_REQUIRED:
        return []
    return scan_driver_materialization(df)


def scan_driver_materialization(df) -> list[str]:
    """Walk the optimized plan; report every driver-materialized
    relation node. Shared by the audit and its negative-control test
    (tests/test_plan_pushdown.py)."""
    bad = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
        cls = node.getClass().getSimpleName()
        if cls == "LogicalRDD":
            bad.append("driver-materialized LogicalRDD in a "
                       "distributed-snapshot query")
        elif cls == "LocalRelation":
            try:
                n = node.data().size()
            except Exception:  # noqa: BLE001
                n = None
            if n is None or n > 0:
                bad.append("driver-materialized LocalRelation"
                           f"({n} rows) in a distributed-snapshot "
                           "query")
    return bad


# --- static exchange-reuse audit (round-13 verdict ask #4) ----------------
#
# The AQE-reuse bimodality has bitten twice (r11 PPJoin family; the
# generalized lesson in BENCH_r12_note.md): when a physical plan
# carries >= 2 IDENTICAL exchange subtrees and no static
# ReusedExchange, de-duplication is left to AQE's runtime stage
# cache, which is scheduling-order dependent — concurrent
# materializations each compute their own copy (slow mode), serial
# ones reuse (fast mode). This audit finds that static signature:
# group every Exchange in the pre-execution plan by its canonicalized
# subtree; any group of >= 2 with no ReusedExchange covering it is a
# runtime-race candidate and must be pinned (localCheckpoint twin of
# the oracle's AS MATERIALIZED).

def _iter_plan(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _iter_plan(ch.apply(i))


def audit_static_reuse(df) -> list[str]:
    """Flags any >= 2 canonicalized-identical Exchange subtrees not
    covered by a static ReusedExchange."""
    jqe = df._jdf.queryExecution()
    plan = jqe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    dup_groups: dict[str, int] = {}
    reused: set[str] = set()
    for node in _iter_plan(plan):
        cls = node.getClass().getSimpleName()
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            key = node.canonicalized().toString()
            dup_groups[key] = dup_groups.get(key, 0) + 1
        elif cls == "ReusedExchangeExec":
            reused.add(node.child().canonicalized().toString())
    return [f"{cnt}x identical exchange with no static reuse "
            f"(AQE-race candidate): {key.strip().splitlines()[0][:90]}"
            for key, cnt in dup_groups.items()
            if cnt >= 2 and key not in reused]


def audit_plan(name: str, plan: str) -> list[str]:
    flags = []
    # NLJ/cartesian hazards are judged on the LOGICAL plan with real
    # bounds (audit_cross_sides + audit_nonequi_joins) — a text match
    # on the physical plan can only restate what those rules prove
    n_exch = len(re.findall(r"Exchange hashpartitioning", plan))
    if n_exch > 5:
        flags.append(f"{n_exch} hash exchanges")
    if "SortMergeJoin" in plan and ("broadcast" in name
                                    or "lookup" in name):
        flags.append("SortMergeJoin where broadcast expected")
    if "Filter (" in plan and "Scan parquet" in plan \
            and "PushedFilters: []" in plan:
        flags.append("filter present but nothing pushed to scan")
    if re.search(r"BatchEvalPython", plan):
        flags.append("row-at-a-time Python UDF in plan")
    return flags


def formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    try:
        return jqe.explainString(
            df._sc._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
    except Exception:  # noqa: BLE001 — fall back to simple string
        return jqe.executedPlan().toString()


def main() -> None:
    spark = get_spark("explain_audit")
    from etl_tool_rep_spark.queries import QUERIES

    names = sys.argv[1:] or sorted(QUERIES)
    failures = 0
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = formatted_plan(df)
        flags = audit_plan(name, plan)
        cross_bad = audit_cross_sides(df)
        if cross_bad:
            failures += 1
            flags.extend(cross_bad)
        ne_bad = audit_nonequi_joins(name, df)
        if ne_bad:
            failures += 1
            flags.extend(ne_bad)
        win_bad, win_notes = audit_window_partitions(name, df)
        if win_bad:
            failures += 1
            flags.extend(win_bad)
        mat_bad = audit_driver_materialization(name, df)
        if mat_bad:
            failures += 1
            flags.extend(mat_bad)
        reuse_bad = audit_static_reuse(df)
        if reuse_bad:
            failures += 1
            flags.extend(reuse_bad)
        status = " | ".join(flags) if flags else "clean"
        print(f"=== {name}: {status}")
        for note in win_notes:
            print(f"    {note}")
        if len(sys.argv) > 1:  # detail only when explicitly named
            print(plan)
    if failures:
        print(f"AUDIT FAILED: {failures} query(s) with unbounded "
              "cross joins or unpartitioned global-sort windows")
        sys.exit(1)


if __name__ == "__main__":
    main()
