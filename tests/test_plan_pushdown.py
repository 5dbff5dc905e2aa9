"""Plan-shape regression gates (round-4 verdict item #7): predicate
pushdown and column pruning must hold for the headline family — a
plan regression should fail CI, not wait for a human explain audit.

For each listed query we assert, on the FORMATTED physical plan:
* every parquet scan of the named table carries non-empty
  ``PushedFilters`` when the query filters that table;
* the scan's ``ReadSchema`` is PRUNED — it reads at most the listed
  number of columns, never the full table width.
"""

from __future__ import annotations

import re

import pytest

from etl_tool_rep_spark.queries import QUERIES

# full fixture widths (TESTDATA.md) — pruning is asserted against these
_TABLE_WIDTH = {
    "lineitem": 11, "orders": 6, "customer": 5, "supplier": 4,
    "part": 6, "events": 6, "documents": 5, "embeddings": 3,
}

# (query, table, expect_pushed_filter, max_read_cols)
CASES = [
    ("filter_predicate", "orders", True, 5),
    ("tpch_q6_forecast", "lineitem", True, 4),
    ("tpch_q3_shipping", "orders", True, 4),
    ("tpch_q3_shipping", "customer", True, 2),
    ("tpch_q19_disjunction", "part", True, 4),
    ("tpch_q10_returns", "lineitem", True, 4),
    # topk_limit has no filter — assert pruning only (2 cols of orders)
    ("topk_limit", "orders", False, 2),
    # pruning-only cases (no filter on the scanned table, but the
    # scan must still be narrow)
    # groupby_agg legitimately reads 6 lineitem cols: 2 group keys +
    # the shipdate filter + quantity/extendedprice/discount agg inputs
    ("groupby_agg", "lineitem", False, 6),
    ("token_count", "documents", False, 3),
    ("exact_dedup", "documents", False, 3),
    ("embedding_knn", "embeddings", False, 2),
    ("tpch_q1_pricing", "lineitem", True, 7),
]


def _formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jqe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def _scans(plan: str, table: str) -> list[dict]:
    """Parse the formatted plan's '(n) Scan parquet' blocks for the
    given table into {pushed: str|None, n_cols: int} records."""
    out = []
    blocks = re.split(r"\n\n", plan)
    for b in blocks:
        if not re.search(r"^\(\d+\) Scan parquet", b, re.M):
            continue
        if f"{table}.parquet" not in b:
            continue
        pushed = None
        m = re.search(r"PushedFilters: \[(.*?)\]", b, re.S)
        if m:
            pushed = m.group(1).strip()
        ms = re.search(r"ReadSchema: struct<(.*?)>", b, re.S)
        n_cols = len(ms.group(1).split(",")) if ms and ms.group(1) \
            else 0
        out.append({"pushed": pushed, "n_cols": n_cols})
    return out


@pytest.mark.parametrize("name,table,want_pushed,max_cols", CASES,
                         ids=[f"{q}:{t}" for q, t, _, _ in CASES])
def test_pushdown_and_pruning(spark, sf_dir, name, table, want_pushed,
                              max_cols):
    df = QUERIES[name](spark, sf_dir)
    plan = _formatted_plan(df)
    scans = _scans(plan, table)
    assert scans, f"no parquet scan of {table} found in {name}'s plan"
    widths = [s["n_cols"] for s in scans]
    assert max(widths) <= max_cols, (
        f"{name}: {table} scan reads {max(widths)} cols "
        f"(limit {max_cols}) — column pruning regressed")
    assert max(widths) < _TABLE_WIDTH[table], (
        f"{name}: {table} scan reads the full table width")
    if want_pushed:
        assert any(s["pushed"] for s in scans), (
            f"{name}: no non-empty PushedFilters on the {table} scan "
            f"— predicate pushdown regressed")


def test_all_case_queries_still_registered():
    for name, *_ in CASES:
        assert name in QUERIES


# --- window-partitioning gate (round-7 verdict item #3) -------------
# A Window with an EMPTY partition spec over a fact-sized frame is a
# single-task global sort at scale. tools/explain_audit.py carries the
# rule (with a bounded-frame allowlist); these tests pin it in CI for
# the family that shipped the hazard in round 6, plus a negative case
# proving the rule actually fires on a deliberately-broken plan.

_REPLANNED = [
    "tail_index_hill", "decile_lift", "decision_stump_train",
    "mann_whitney_u", "quantile_normalization", "percent_rank_cume",
    "percentile_window", "skyline_pareto", "equidepth_bins",
    "vocab_growth", "ks_test",
]


@pytest.mark.parametrize("name", _REPLANNED)
def test_no_unpartitioned_window_over_fact_frame(spark, sf_dir, name):
    from tools.explain_audit import audit_window_partitions
    df = QUERIES[name](spark, sf_dir)
    assert audit_window_partitions(name, df)[0] == []


def test_window_rule_fires_on_global_sort(spark, sf_dir):
    """Negative control: a bare row_number() over an unpartitioned
    fact-table window MUST be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_window_partitions
    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .withColumn("rk", F.row_number().over(
              Window.orderBy("o_orderkey"))))
    assert audit_window_partitions("deliberately_broken", df)[0], \
        "audit rule failed to flag an unpartitioned fact-frame window"


def test_window_rule_permits_post_aggregation_frame(spark, sf_dir):
    """A global window over a grouped aggregate (tiny census frame)
    is legitimate and must NOT be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_window_partitions
    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
          .withColumn("rk", F.row_number().over(
              Window.orderBy(F.desc("n")))))
    flags, notes = audit_window_partitions("post_agg_ok", df)
    assert flags == []
    assert notes and "proven" in notes[0]   # justification emitted


def test_window_rule_fires_on_per_key_aggregate(spark, sf_dir):
    """Negative control (round-8 ADVICE): an Aggregate grouped on a
    FACT key (o_custkey — cardinality ~ |customers|) is data-sized;
    a global window over it must be flagged, not trusted because an
    Aggregate sits on the spine."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_window_partitions
    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .groupBy("o_custkey").agg(F.count("*").alias("n"))
          .withColumn("rk", F.row_number().over(
              Window.orderBy(F.desc("n")))))
    assert audit_window_partitions("per_key_agg_broken", df)[0], \
        "audit rule trusted a per-key (data-sized) aggregate frame"


# --- non-equi-join bound gate (round-8 verdict item #3) --------------
# A join with no equi conjunct is a nested loop: |L| x |R| work. The
# rule requires one side to carry a PROVEN row bound — the shape that
# would have caught round-7's negative_sampling quadratic candidate
# stage.


def test_nlj_allowlist_stays_small():
    """Round-8 verdict item #3: the plan-opaque allowlist must stay
    at <=5 entries — growth means new code is skipping the proof."""
    from tools.explain_audit import _NESTED_LOOP_OK
    assert len(_NESTED_LOOP_OK) <= 5, sorted(_NESTED_LOOP_OK)


@pytest.mark.parametrize("name", ["ann_pq_knn", "ann_ivf_knn",
                                  "perceptron_train",
                                  "late_interaction_maxsim",
                                  "spatial_radius_join",
                                  "spatial_cell_rollup"])
def test_deallowlisted_queries_prove_their_bounds(spark, sf_dir, name):
    """The three round-9 graduates (plus tier 42's MaxSim, born with
    a plan-visible bound, and the spatial keys, whose offset grids are
    ``local_frame`` local relations): their probe/weight/grid bounds
    are plan-visible (limit(5)/limit(4) / Range(1) / LocalRelation),
    so the non-equi rule must pass WITHOUT an allowlist entry."""
    from tools.explain_audit import _NESTED_LOOP_OK, audit_nonequi_joins
    assert name not in _NESTED_LOOP_OK
    df = QUERIES[name](spark, sf_dir)
    assert audit_nonequi_joins(name, df) == []


def test_bound_traverses_arrow_eval_python(spark, sf_dir):
    """ArrowEvalPython (scalar pandas UDF) is row-preserving: a limit
    below it must survive above it."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _twice(s):
        return s * 2.0

    df = (spark.read.parquet(f"{sf_dir}/orders.parquet")
          .limit(7).withColumn("t", _twice("o_totalprice")))
    from tools.explain_audit import _row_bound
    assert _row_bound(
        df._jdf.queryExecution().optimizedPlan()) == 7


def test_nonequi_rule_fires_on_fact_fact_inequality(spark, sf_dir):
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_nonequi_joins
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = o.join(c, F.col("o_custkey") != F.col("c_custkey"))
    assert audit_nonequi_joins("deliberately_broken", df), \
        "non-equi rule failed to flag a fact x fact inequality join"


def test_nonequi_rule_permits_scalar_attach(spark, sf_dir):
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_nonequi_joins
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    total = o.agg(F.count("*").alias("n_total"))
    df = o.crossJoin(F.broadcast(total))
    assert audit_nonequi_joins("scalar_ok", df) == []


def test_nonequi_rule_permits_limit_bounded_side(spark, sf_dir):
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_nonequi_joins
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probes = o.select("o_orderkey", "o_totalprice").limit(10)
    df = o.join(F.broadcast(probes.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p"))),
        F.col("o_totalprice") > F.col("p"))
    assert audit_nonequi_joins("limit_ok", df) == []


# --- distributed-snapshot gate (round-9 verdict item #1) -------------
# The two streaming keys used to finish with collect()+createDataFrame
# of the per-user final state — a driver OOM at 100 TB. The rule scans
# the optimized plan for driver-materialized relations (LogicalRDD /
# non-empty LocalRelation); the declared keys must be clean, and the
# negative control proves the rule fires on the old shape.


def test_snapshot_rule_fires_on_collect_roundtrip(spark, sf_dir):
    """Negative control: the pre-round-9 shape — collect the final
    state, rebuild with createDataFrame — MUST be flagged."""
    from pyspark.sql import functions as F

    from tools.explain_audit import scan_driver_materialization
    state = (spark.read.parquet(f"{sf_dir}/events.parquet")
             .groupBy("user_id")
             .agg(F.max("event_id").alias("last_event_id")))
    rows = state.limit(50).collect()
    df = spark.createDataFrame(rows, state.schema)
    assert scan_driver_materialization(df), \
        "rule failed to flag a collect()+createDataFrame round-trip"


def test_snapshot_rule_permits_file_read(spark, sf_dir, tmp_path):
    """A distributed parquet read of on-disk state (the round-9
    return shape) must pass clean."""
    from pyspark.sql import functions as F

    from tools.explain_audit import scan_driver_materialization
    out = str(tmp_path / "state")
    (spark.read.parquet(f"{sf_dir}/events.parquet")
     .groupBy("user_id")
     .agg(F.max("event_id").alias("last_event_id"))
     .write.parquet(out))
    df = (spark.read.parquet(out)
          .select("user_id", F.col("last_event_id") + 0))
    assert scan_driver_materialization(df) == []


@pytest.mark.slow
@pytest.mark.parametrize("name", ["streaming_foreachbatch_upsert",
                                  "streaming_lakehouse_ingest"])
def test_streaming_snapshot_returns_distributed(spark, sf_dir, name):
    """The declared keys themselves: run the stream, then assert the
    RETURNED frame's plan reads files — no driver round-trip — and
    still carries the right row count (one per user)."""
    from pyspark.sql import functions as F

    from tools.explain_audit import audit_driver_materialization
    df = QUERIES[name](spark, sf_dir)
    assert audit_driver_materialization(name, df) == []
    n_users = (spark.read.parquet(f"{sf_dir}/events.parquet")
               .agg(F.countDistinct("user_id")).first()[0])
    assert df.count() == n_users


# --- bound-propagator unit coverage (round 8) ------------------------
# The audit rules above rest on _row_bound/_attr_bounds; these pin the
# individual propagation cases so a refactor can't silently weaken the
# gate (a too-generous bound would wave real hazards through).


def _bound(df):
    from tools.explain_audit import _row_bound
    return _row_bound(df._jdf.queryExecution().optimizedPlan())


def test_bound_limit_and_range(spark):
    assert _bound(spark.range(1000).limit(7)) <= 7
    assert _bound(spark.range(123)) == 123


def test_bound_scalar_and_grouped_aggregates(spark, sf_dir):
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert _bound(o.agg(F.count("*"))) == 1
    # o_orderstatus has a documented 3-value domain
    b = _bound(o.groupBy("o_orderstatus").count())
    assert b is not None and b <= 3
    # o_custkey has no documented domain and a data-sized child
    assert _bound(o.groupBy("o_custkey").count()) is None


def test_bound_joins_and_unions_compose(spark, sf_dir):
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = o.groupBy("o_orderstatus").count()      # <= 3
    p = o.groupBy("o_orderpriority").count()    # <= 5
    uni = s.select(F.col("o_orderstatus").alias("k"), "count") \
        .unionByName(p.select(F.col("o_orderpriority").alias("k"),
                              "count"))
    assert _bound(uni) <= 8
    j = s.crossJoin(p)
    b = _bound(j)
    assert b is not None and b <= 3 * 5 + 3 + 5
    # joining against a data-sized frame loses the bound
    assert _bound(s.crossJoin(o)) is None


def test_bound_grouping_via_attr_provenance(spark, sf_dir):
    """Grouping on a column carried from a 1-row scalar attach must
    bound by provenance even though the column name has no domain."""
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    total = o.agg(F.count("*").alias("grand_total"))
    j = o.crossJoin(F.broadcast(total))
    g = j.groupBy("o_orderstatus", "grand_total").count()
    b = _bound(g)
    assert b is not None and b <= 3


def test_bound_literal_array_bucket_domain(spark, sf_dir):
    """The rank-utility bucket id — size(filter(<literal array>)) —
    must get a domain bound through _expr_domain, proving the
    triangular offset join without an allowlist."""
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bounds = F.lit([100.0, 200.0, 300.0])
    bid = F.size(F.filter(bounds,
                          lambda b: b < F.col("o_totalprice")))
    g = o.withColumn("_bid", bid).groupBy("_bid").count()
    b = _bound(g)
    assert b is not None and b <= 4
