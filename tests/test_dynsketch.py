"""DynSketch drop policy + ECM merge-mode query path."""

import pytest
from pyspark.sql import functions as F

from spatialsketch_spark.config import SketchConfig
from spatialsketch_spark.geo.build import SketchStore, live_grids
from spatialsketch_spark.geo.dynsketch import (
    apply_plan, grid_sizes, phase1_order, phase2_layers, plan_drops,
)
from spatialsketch_spark.geo.events import ITEM_DOMAIN, derive_geo_events
from spatialsketch_spark.geo.query import QuerySpec, SpatialSketchEngine

from conftest import SF_UNIT

N = 64
LEVELS = 7


@pytest.fixture(scope="module")
def events(spark):
    return derive_geo_events(spark, SF_UNIT, N).cache()


def test_phase_orders():
    p1 = phase1_order(LEVELS, 0)
    assert all((kx + ky) % 2 == 1 for kx, ky in p1)
    assert p1[0][0] + p1[0][1] == 1          # coarsest odd diagonal first
    floors = [fl for fl, _ in phase2_layers(LEVELS, 0)]
    assert floors == [1, 2, 3, 4, 5, 6]      # each layer doubles resolution


def test_plan_respects_budget_and_queries_stay_exact(spark, events):
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    store = SketchStore.build(spark, events, cfg, "exact", 0)
    sizes = grid_sizes(store.df, cfg.levels)
    total = sum(sizes.values())
    plan = plan_drops(sizes, cfg.levels, 0, budget_bytes=total // 3)
    assert plan.bytes_after <= total // 3 or plan.min_level == cfg.levels - 1
    assert plan.bytes_after < plan.bytes_before

    # apply: filtered table + cfg with the dropped set; aligned queries
    # must still answer exactly via the cover rewrite
    import dataclasses
    cfg2 = dataclasses.replace(cfg, dropped_grids=plan.dropped)
    store2 = SketchStore(spark, apply_plan(store.df, plan, cfg.levels),
                         cfg2, "exact", plan.min_level)
    eng = SpatialSketchEngine(store2)
    blk = 1 << plan.min_level
    x2 = (N // blk - 1) * blk - 1 if N // blk > 1 else N - 1
    aligned = [(0, 0, x2, x2)]
    got = {r["qid"]: r["est"] for r in eng.query(
        [QuerySpec(0, aligned, "count"),
         QuerySpec(1, aligned, "freq", item=3)]).collect()}
    truth_all = events.filter(F.col("x").between(0, x2)
                              & F.col("y").between(0, x2))
    assert got[0] == truth_all.count()
    assert got[1] == truth_all.filter(F.col("item") == 3).count()


def test_dropped_grid_batch_size_invariant(spark, events):
    """A DynSketch store (dropped grids, coarsened floor) answers one
    batch of >= 64 count/freq queries exactly as it answers the same
    queries split into batches of < 64: the cover rewrite and the
    grid-key pruning list must not depend on the batch size."""
    import dataclasses
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    store = SketchStore.build(spark, events, cfg, "exact", 0)
    sizes = grid_sizes(store.df, cfg.levels)
    plan = plan_drops(sizes, cfg.levels, 0,
                      budget_bytes=sum(sizes.values()) // 3)
    assert plan.dropped
    eng = SpatialSketchEngine(SketchStore(
        spark, apply_plan(store.df, plan, cfg.levels),
        dataclasses.replace(cfg, dropped_grids=plan.dropped), "exact",
        plan.min_level))
    qs = []
    for i in range(36):
        r = [(i % 13, (i * 7) % 11, min(N - 1, 20 + (i * 5) % 40),
              min(N - 1, 25 + (i * 3) % 35))]
        qs.append(QuerySpec(2 * i, r, "count"))
        qs.append(QuerySpec(2 * i + 1, r, "freq", item=i % 5))
    assert len(qs) >= 64
    split = {}
    for k in range(0, len(qs), 24):
        split.update(eng.query_values(qs[k:k + 24]))
    assert eng.query_values(qs) == split
    assert {r["qid"]: r["est"] for r in eng.query(qs).collect()} == split
    assert any(split.values())


def test_window_merge_mode(spark, events):
    """ECM_merge mode: merge cover-cell histograms, then HistSum —
    exact with the exact kernel; close to the per-cell mode with ECM."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    store = SketchStore.build(spark, events, cfg, "exact", 0)
    eng = SpatialSketchEngine(store)
    rng = [(8, 8, 55, 40)]
    got = {r["qid"]: r["est"] for r in eng.query(
        [QuerySpec(0, rng, "window", item=3, t0=400),
         QuerySpec(1, rng, "window_merge", item=3, t0=400)]).collect()}
    truth = events.filter(
        F.col("x").between(8, 55) & F.col("y").between(8, 40)
        & (F.col("item") == 3) & (F.col("ts") >= 400)).count()
    assert got[0] == truth
    assert got[1] == truth

    # realistic ECM: merge-mode estimate stays within the envelope
    cfg_e = SketchConfig.realistic(n=N, eps=0.3, delta=0.3, ecm_eps=0.125,
                                   item_domain=ITEM_DOMAIN)
    store_e = SketchStore.build(spark, events, cfg_e, "ecm", 3)
    eng_e = SpatialSketchEngine(store_e)
    blk_rng = [(8, 8, 55, 47)]
    got_e = {r["qid"]: r["est"] for r in eng_e.query(
        [QuerySpec(0, blk_rng, "window_merge", item=3, t0=0)]).collect()}
    truth_e = events.filter(
        F.col("x").between(8, 55) & F.col("y").between(8, 47)
        & (F.col("item") == 3)).count()
    assert got_e[0] >= 0
    assert abs(got_e[0] - truth_e) <= max(10, 0.5 * events.count() * 0.3)
