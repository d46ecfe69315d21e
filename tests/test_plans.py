"""Physical-plan audits: lock in the scale properties the engine is
designed around, so a refactor that silently drops a pushdown, a
broadcast, or codegen fails CI — the `.explain("formatted")` discipline
as regression tests. Spark is pinned in this environment, so asserting
on plan strings is stable.
"""

from __future__ import annotations

import contextlib
import io

from gfw_pixetl_spark import harness
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_reaches_parquet(spark):
    """q02: filters land in PushedFilters; ReadSchema prunes to exactly
    the referenced columns (projection + predicate pushdown, SURVEY §7)."""
    plan = plan_of(harness.QUERIES["q02_scan_pushdown"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or \
        "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
                "l_shipdate"):
        assert col in read
    # pruned: none of the other 11 lineitem columns are read
    for col in ("l_comment", "l_extendedprice", "l_partkey"):
        assert col not in read


def test_spatial_prune_is_broadcast(spark):
    """q05: the source-intersects prune is a broadcast semi-join — the
    tile set never shuffles (map-only pruning at 268M tiles)."""
    plan = plan_of(harness.QUERIES["q05_semi_join"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_is_broadcast_not_cartesian(spark):
    """q07: the bbox-overlap theta-join plans as BroadcastNestedLoopJoin
    over the tiny catalog side, never a cartesian shuffle."""
    plan = plan_of(harness.QUERIES["q07_range_join"](spark, SF_SMOKE))
    assert "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_stays_in_codegen(spark):
    """q01: the aggregation pipeline is whole-stage-codegen'd JVM work —
    no Python in the hot path. Codegen spans only appear in the executed
    (AQE-final) plan, marked `*(n)` in its string form."""
    df = harness.QUERIES["q01_pricing_summary"](spark, SF_SMOKE)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed  # whole-stage codegen stages
    assert "BatchEvalPython" not in executed
    assert "ArrowEvalPython" not in executed
    # partial aggregation (map-side combine) before the shuffle
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_tfidf_dfreq_is_broadcast(spark):
    """q56: the vocabulary-sized document-frequency side broadcasts; the
    per-(doc,term) side never shuffles for the scoring join."""
    plan = plan_of(harness.QUERIES["q56_tfidf_topterms"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_map_only(spark):
    """q55: no shuffle at all — the sampling decision is row-local."""
    plan = plan_of(harness.QUERIES["q55_stratified_sample"](spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_asof_join_single_shuffle(spark):
    """q59: the as-of join is one hash-partitioning on the key (the
    window), not a pairwise range join — no NestedLoop/Cartesian."""
    plan = plan_of(harness.QUERIES["q59_asof_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Window" in plan


def test_polygon_area_stays_in_codegen(spark):
    """q76: shoelace area is pure column math — no Python eval anywhere
    in the executed plan."""
    df = harness.QUERIES["q76_polygon_area"](spark, SF_SMOKE)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in executed
    assert "ArrowEvalPython" not in executed


def test_rect_union_broadcasts_not_cartesian(spark):
    """q78: the cell-coverage interval join broadcasts the rect side —
    never a shuffled cartesian."""
    plan = plan_of(harness.QUERIES["q78_rect_union_area"](spark, SF_SMOKE))
    assert "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan


def test_repetition_aggs_are_partial(spark):
    """q80: both aggregation levels do map-side combine (partial), and
    the word explode feeds straight into JVM aggregation — no Python."""
    df = harness.QUERIES["q80_repetition"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_count" in plan or plan.count("HashAggregate") >= 4
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in executed
    assert "ArrowEvalPython" not in executed


def test_cohort_retention_broadcasts_user_dim(spark):
    """q82: the per-user first-event dim joins back to events via
    broadcast hash join — the fact stream never sort-merge shuffles."""
    plan = plan_of(harness.QUERIES["q82_cohort_retention"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_registers_aggregate_map_side(spark):
    """q87: both HLL stages (register max, per-group harmonic sum) do
    partial aggregation, so the shuffle carries at most m registers per
    group per task — the sketch bound — and the rho CASE chain stays in
    JVM codegen."""
    df = harness.QUERIES["q87_hll_distinct"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_max" in plan
    assert plan.count("HashAggregate") >= 4  # two levels x partial/final
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in executed
    assert "ArrowEvalPython" not in executed


def test_cms_probe_broadcasts_candidates(spark):
    """q90: the sketch aggregates with map-side combine (bounded
    shuffle) and the probe side broadcasts — the sketch never shuffles
    keyed on probe values."""
    df = harness.QUERIES["q90_heavy_hitters_cms"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_join_broadcasts_bucketed_side(spark):
    """q86: the dense-spine left join resolves as a broadcast (the
    aggregated bucket side is small relative to the spine at any SF
    where buckets << raw rows); LOCF is a single Window pass."""
    plan = plan_of(harness.QUERIES["q86_gapfill_locf"](spark, SF_SMOKE))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_shuffles_on_salt(spark):
    """q100: the physical join keys include the salt column — each hot
    key's rows really are spread over n_salts reducers."""
    plan = plan_of(harness.QUERIES["q100_salted_join"](spark, SF_SMOKE))
    assert "_salt" in plan


def test_fuzzy_join_no_cartesian(spark):
    """q91: deletion-neighborhood blocking joins on block keys — never
    a cartesian/nested-loop over the pair space."""
    plan = plan_of(harness.QUERIES["q91_fuzzy_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_shipping_priority_broadcasts_customer(spark):
    """q101: the filtered customer dim is broadcast — the only shuffles
    are the orders⨝lineitem orderkey join and the final aggregate; the
    ship/order-date filters reach the parquet scans."""
    plan = plan_of(harness.QUERIES["q101_shipping_priority"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    pushed = plan.split("PushedFilters")
    assert any("l_shipdate" in p[:300] for p in pushed[1:])


def test_regional_revenue_all_dims_broadcast(spark):
    """q102: region/nation/supplier are all broadcast; the snowflake
    collapses to two fact shuffles regardless of dimension count."""
    plan = plan_of(harness.QUERIES["q102_regional_revenue"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_equidepth_hist_has_no_global_window(spark):
    """q106: equi-depth bucketing must NOT use ntile's single-partition
    global window — decile bounds come from the range-partitioned exact
    selection operator and land as literal comparisons in one scan+agg."""
    plan = plan_of(harness.QUERIES["q106_equidepth_hist"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_above_avg_orders_no_nested_loop(spark):
    """q109: the decorrelated scalar subquery is a keyed agg + equi-join
    on o_custkey — never a per-row nested-loop re-aggregation."""
    plan = plan_of(harness.QUERIES["q109_above_avg_orders"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_pareto_runs_one_brand_window(spark):
    """q110: the skyline is one brand-partitioned window over distinct
    prices — the quadratic NOT EXISTS never materializes."""
    plan = plan_of(harness.QUERIES["q110_pareto_parts"](spark, SF_SMOKE))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dq_audit_orphans_are_anti_joins(spark):
    """q112: referential checks plan as anti-joins (broadcast where the
    key side is small), never NOT-IN nested loops."""
    plan = plan_of(harness.QUERIES["q112_dq_audit"](spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_revenue_share_windows_aggregated_dims(spark):
    """q114: the grand-total window runs over the 25-row aggregated
    nation table, after the fact scan has been reduced — the unpartitioned
    window never sees fact-table cardinality."""
    plan = plan_of(harness.QUERIES["q114_revenue_share"](spark, SF_SMOKE))
    assert "Window" in plan
    # the window input is the agg output: a Window above HashAggregate
    assert plan.index("Window") < plan.index("Scan parquet")


def test_first_last_event_is_one_aggregate(spark):
    """q116: first/last per user is a single min_by/max_by hash aggregate
    — no window, no self-join, one shuffle on user_id."""
    plan = plan_of(harness.QUERIES["q116_first_last_event"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Join" not in plan


def _exchange_below(lines: list[str], marker: str) -> list[str]:
    """The executed-plan lines from the node containing ``marker`` down
    to the first exchange under it (both ends included). The kernel and
    the writer are unary, so this is their input chain."""
    start = next(i for i, line in enumerate(lines) if marker in line)
    end = next(i for i in range(start + 1, len(lines))
               if "Exchange " in lines[i])
    return lines[start:end + 1]


def test_raster_sink_runs_once_on_every_core(spark, tmp_path):
    """RasterPipe's executed plan: the writer (FlatMapGroupsInPandas) is
    there once, so each tile is written once per action; the window
    kernel and the writer read exchanges with an explicit partition
    count, never a coalesced single-partition read (their cost is Python
    time per row, which AQE's byte-based coalescing cannot see)."""
    from gfw_pixetl_spark.grids import LatLngGrid
    from tests.test_raster_pipe import make_pipe

    grid = LatLngGrid(10, 160)
    pipe = make_pipe(tmp_path, grid)
    files = [{"uri": "m://a", "band": 1,
              "left": 0.0, "bottom": -10.0, "right": 20.0, "top": 10.0}]
    status = pipe.run(spark, files, subset=[
        "00N_000E", "10N_000E", "00N_010E", "10N_010E"])
    rows = status.collect()
    assert len(rows) == 4 and {r.status for r in rows} == {"processed"}

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        status.explain()
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    assert sum("FlatMapGroupsInPandas" in line for line in final) == 1

    n = spark.sparkContext.defaultParallelism
    assert n > 1
    kernel = _exchange_below(final, "MapInPandas kernel(")
    writer = _exchange_below(final, "FlatMapGroupsInPandas")
    for chain in (kernel, writer):
        assert not any("AQEShuffleRead" in line for line in chain), chain
        assert "REPARTITION_BY_NUM" in chain[-1], chain[-1]
    assert f"RoundRobinPartitioning({n})" in kernel[-1]
    assert "hashpartitioning(tile_id#" in writer[-1]
    assert f", {n}), REPARTITION_BY_NUM" in writer[-1]
