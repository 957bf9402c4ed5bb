"""Driver-contract gate queries: every entry couples a Spark query
(through the real engine) with ANSI SQL that DuckDB answers on the same
parquet — the reference's oracle-differential methodology
(Postgres ground truth, Postgres.cpp:406,715,934,1157,1353) re-expressed
for the sandbox.

The sketches run in *exact mode* here (collision-free, SketchConfig.
exact_mode), so the full pipeline — span extraction, cell encode, dyadic
explode, map-side-combined build, polygon partitioning, dyadic cover,
broadcast probe — must agree with exact SQL bit-for-bit. The error-bound
behavior of realistic (lossy) parameters is asserted separately in
tests/test_geo_pipeline.py and benchmarked in bench.py.

Grid: N = 4096 (reference default), pyramid capped at MIN_LEVEL = 4
(finest live grid 256x256 — the practical analogue of the reference's
37 MB DynSketch quota). All fixture polygons are aligned to 16-cell
blocks so coverage is exactly 1.0 and estimates are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import SketchConfig
from .core.partitioner import Shape, shape_to_ranges
from .geo.build import SketchStore
from .geo.events import ITEM_DOMAIN, derive_geo_events, geo_events_sql
from .geo.joins import corridor_filter as _corridor_filter
from .geo.joins import corridor_filter_batch as _corridor_batch
from .geo.joins import oracle_corridor_batch as _oracle_corridor_batch
from .geo.joins import oracle_corridor_filter as _oracle_corridor
from .geo.layout import (oracle_geohash_rollup, oracle_hex_cell_reader,
                         oracle_hex_kring_smooth, oracle_hexbin_rollup,
                         oracle_hilbert_layout, oracle_zorder_layout,
                         q_geohash_rollup, q_hex_cell_reader,
                         q_hex_kring_smooth, q_hexbin_rollup,
                         q_hilbert_layout, q_zorder_layout)
from .geo.query import QuerySpec, SpatialSketchEngine
from .sources.interleaved import build_interleaved_docs, extract_geo_events

N = 4096
MIN_LEVEL = 4
# hex reader gate fixture: off-lattice-aligned rect, interior of the grid
HEX_READER_RECT = (512, 768, 2300, 1900)
N_DOCS = 97

# ---------------------------------------------------------------------------
# polygon fixtures (half-integer vertices, 16-block aligned; N=4096)
# ---------------------------------------------------------------------------

POLY_L = Shape(rings=[[(-0.5, -0.5), (2559.5, -0.5), (2559.5, 1279.5),
                       (1279.5, 1279.5), (1279.5, 2559.5), (-0.5, 2559.5)]],
               grid_size=N, name="L")
POLY_U = Shape(rings=[[(-0.5, -0.5), (3071.5, -0.5), (3071.5, 3071.5),
                       (2047.5, 3071.5), (2047.5, 1023.5), (1023.5, 1023.5),
                       (1023.5, 3071.5), (-0.5, 3071.5)]],
               grid_size=N, name="U")
POLY_HOLED = Shape(rings=[[(511.5, 511.5), (3583.5, 511.5), (3583.5, 3583.5),
                           (511.5, 3583.5)],
                          [(1535.5, 1535.5), (2559.5, 1535.5),
                           (2559.5, 2559.5), (1535.5, 2559.5)]],
                   grid_size=N, name="holed")
POLYGONS = [POLY_L, POLY_U, POLY_HOLED]

RECTS = [(0, 0, 2047, 2047), (1024, 512, 3071, 1535),
         (2048, 2048, 4095, 4095), (512, 3072, 1535, 4095)]

_STORES: dict[tuple, SketchStore] = {}


def exact_store(spark: SparkSession, sf_dir: str) -> SketchStore:
    key = (sf_dir, N, MIN_LEVEL, "exact")
    st = _STORES.get(key)
    if st is None:
        cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
        ev = derive_geo_events(spark, sf_dir, N)
        st = SketchStore.build(spark, ev, cfg, "exact", MIN_LEVEL)
        st.df = st.df.cache()
        _STORES[key] = st
    return st


def _engine(spark, sf_dir) -> SpatialSketchEngine:
    return SpatialSketchEngine(exact_store(spark, sf_dir))


def _result(engine, queries) -> DataFrame:
    return engine.query(queries).orderBy("qid")


# ---------------------------------------------------------------------------
# oracle SQL helpers
# ---------------------------------------------------------------------------

def _geo_cte() -> str:
    return geo_events_sql(N).strip()


def _rect_values(per_qid_ranges: list[list[tuple]]) -> str:
    rows = []
    for qid, ranges in enumerate(per_qid_ranges):
        for (x1, y1, x2, y2) in ranges:
            rows.append(f"({qid},{x1},{y1},{x2},{y2})")
    return ",".join(rows)


def _qid_values(n: int) -> str:
    return ",".join(f"({i})" for i in range(n))


def _region_agg_sql(per_qid_ranges, agg_sql: str, extra_pred: str = "",
                    extra_values: str = "") -> str:
    """Template: per-qid aggregate over a disjoint-rect region
    (region predicate = reference's ComposeRange OR-of-BETWEENs,
    Postgres.cpp:281-303)."""
    return f"""
WITH geo AS ({_geo_cte()}),
rects(qid, x1, y1, x2, y2) AS (VALUES {_rect_values(per_qid_ranges)}),
qids(qid) AS (VALUES {_qid_values(len(per_qid_ranges))}),
{extra_values}
matched AS (
  SELECT r.qid AS qid, g.*
  FROM rects r JOIN geo g
    ON g.x BETWEEN r.x1 AND r.x2 AND g.y BETWEEN r.y1 AND r.y2
)
SELECT CAST(q.qid AS BIGINT) AS qid,
       CAST(COALESCE(t.v, 0) AS BIGINT) AS est
FROM qids q LEFT JOIN ({agg_sql}) t ON t.qid = q.qid
ORDER BY qid
"""


# ---------------------------------------------------------------------------
# gate queries
# ---------------------------------------------------------------------------

def q_polygon_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon range-count (all items) over the three state-shaped
    fixtures — the flagship (reference Fig. 4 polygon queries)."""
    eng = _engine(spark, sf_dir)
    qs = [QuerySpec.from_shape(i, p, "count") for i, p in enumerate(POLYGONS)]
    return _result(eng, qs)


def oracle_polygon_count() -> str:
    ranges = [shape_to_ranges(p) for p in POLYGONS]
    agg = ("SELECT qid, SUM(value) AS v FROM matched GROUP BY qid")
    return _region_agg_sql(ranges, agg)


def q_polygon_count_dynsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynSketch memory policy (B10/C5): the same polygon counts with the
    odd-diagonal grids dropped (reference phase-1 drop order,
    SpatialSketch.cpp:155-219). The query-side cover rewrite
    (effective_cover) must recover exact answers from the remaining
    grids — oracle identical to geo_polygon_count."""
    key = (sf_dir, N, MIN_LEVEL, "exact-dyn")
    st = _STORES.get(key)
    if st is None:
        L = 12
        dropped = frozenset(
            (kx, ky) for kx in range(MIN_LEVEL, L + 1)
            for ky in range(MIN_LEVEL, L + 1)
            if (kx + ky) % 2 == 1 and not (kx == MIN_LEVEL and ky == MIN_LEVEL))
        cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N,
                                      dropped_grids=dropped)
        ev = derive_geo_events(spark, sf_dir, N)
        st = SketchStore.build(spark, ev, cfg, "exact", MIN_LEVEL)
        st.df = st.df.cache()
        _STORES[key] = st
    eng = SpatialSketchEngine(st)
    qs = [QuerySpec.from_shape(i, p, "count") for i, p in enumerate(POLYGONS)]
    return _result(eng, qs)


def q_snapshot_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot lifecycle end-to-end, oracle-compared: build a
    path-backed store over the ts%3!=0 prefix of the stream (commit 0),
    merge_events the remaining events (commit 1 — the full stream),
    then TIME TRAVEL back to commit 0 via load(at_seq=0) and answer
    region counts. The as-of results must equal DuckDB over the prefix
    only — proving the merge commit left the old snapshot intact and
    the manifest history serves bit-exact as-of reads (north_rule:
    every stage resumable from snapshot checkpoints)."""
    key = (sf_dir, "travel")
    st = _STORES.get(key)
    if st is None:
        import tempfile
        path = tempfile.mkdtemp(prefix="ss_gate_travel_")
        cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
        ev = derive_geo_events(spark, sf_dir, N)
        s0 = SketchStore.build(spark, ev.where(F.col("ts") % 3 != 0),
                               cfg, "exact", MIN_LEVEL, path=path)
        s0.merge_events(ev.where(F.col("ts") % 3 == 0))
        st = SketchStore.load(spark, path, cfg, "exact", at_seq=0)
        st.df = st.df.cache()
        _STORES[key] = st
    eng = SpatialSketchEngine(st)
    qs = [QuerySpec(i, [r], "count") for i, r in enumerate(RECTS)]
    return _result(eng, qs)


def oracle_snapshot_travel() -> str:
    ranges = [[r] for r in RECTS]
    agg = ("SELECT qid, SUM(value) AS v FROM matched "
           "WHERE ts % 3 <> 0 GROUP BY qid")
    return _region_agg_sql(ranges, agg)


# spherical-polygon fixture (great-circle-arc quad). Min point-to-edge
# arc distance over the fixture rows measured at 3.3e-4 rad (sf0.01) /
# 2.7e-3 (sf0.001) — a sign in the crossing dets cannot flip between
# engines.
SPHERE_POLY = [(10.0, 10.0), (60.0, 15.0), (55.0, 55.0), (5.0, 50.0)]


def q_polygon_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-polygon range query: polyfill cover prune + exact
    even-odd great-circle PIP (precomputed edge/outside-point dets,
    pure column arithmetic) — row-for-row vs the same determinant
    parity computed by DuckDB."""
    from .sources.geocells import derive_lonlat_events, \
        polygon_filter_sphere
    ll = derive_lonlat_events(spark, sf_dir)
    return polygon_filter_sphere(ll, SPHERE_POLY, res=6) \
        .select(F.col("ts").cast("bigint")).orderBy("ts")


def oracle_polygon_sphere() -> str:
    # SQL-only form: oracle generators must not build Spark Columns
    # (Column construction asserts an active SparkContext; the driver
    # may call oracle_sql() before — or without — creating a session)
    from .sources.geocells import lonlat_sql, spherical_pip_sql
    pip_sql = spherical_pip_sql(SPHERE_POLY)
    return f"""
WITH ll AS ({lonlat_sql()}),
d AS (
  SELECT ts,
         cos(radians(lat)) * cos(radians(lon)) AS dx,
         cos(radians(lat)) * sin(radians(lon)) AS dy,
         sin(radians(lat)) AS dz
  FROM ll
)
SELECT CAST(ts AS BIGINT) AS ts FROM d WHERE {pip_sql} ORDER BY ts
"""


# spherical kNN fixture: equatorial, antimeridian, polar, mid-lat
# queries. Min adjacent-dot gap in each top-6 ranking measured at
# 3.1e-8 (sf0.01) / 1.3e-5 (sf0.001) — orders above cross-engine libm
# ulp drift, so the integer (qid, rank, ts) rows cannot flip.
CAP_KNN_QUERIES = [(0, 20.0, 45.0), (1, 179.95, -10.0), (2, 0.0, 89.9),
                   (3, -135.0, 0.0)]


def q_cap_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical kNN over the s2ish cell index (expanding cap covers
    with the provable cover-superset stopping rule) vs the brute-force
    DuckDB great-circle ranking."""
    from .sources.geocells import cap_knn, derive_lonlat_events
    ll = derive_lonlat_events(spark, sf_dir)
    return cap_knn(ll, CAP_KNN_QUERIES, k=5, res=7) \
        .select("qid", "rank", "ts").orderBy("qid", "rank")


def oracle_cap_knn() -> str:
    from .sources.geocells import lonlat_sql
    qv = ",".join(f"({q},{lo},{la})" for q, lo, la in CAP_KNN_QUERIES)
    return f"""
WITH ll AS ({lonlat_sql()}),
qp(qid, qlon, qlat) AS (VALUES {qv}),
d AS (
  SELECT qp.qid AS qid, ll.ts AS ts,
         cos(radians(ll.lat)) * cos(radians(qp.qlat))
         * cos(radians(ll.lon) - radians(qp.qlon))
         + sin(radians(ll.lat)) * sin(radians(qp.qlat)) AS dot
  FROM ll CROSS JOIN qp
),
r AS (
  SELECT qid, ts,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, ts)
           AS rank
  FROM d
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
       CAST(ts AS BIGINT) AS ts
FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


def q_rect_item_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: COUNT(*) WHERE region AND item = v (Postgres.cpp:406)."""
    eng = _engine(spark, sf_dir)
    items = [3, 17, 42, 255]          # 255 is absent -> 0
    qs = [QuerySpec(i, [r], "freq", item=items[i])
          for i, r in enumerate(RECTS)]
    return _result(eng, qs)


def oracle_rect_item_freq() -> str:
    items = [3, 17, 42, 255]
    iv = ",".join(f"({i},{items[i]})" for i in range(len(RECTS)))
    agg = ("SELECT m.qid, SUM(m.value) AS v FROM matched m "
           "JOIN qitems qi ON qi.qid = m.qid AND m.item = qi.item "
           "GROUP BY m.qid")
    return _region_agg_sql([[r] for r in RECTS], agg,
                           extra_values=f"qitems(qid, item) AS (VALUES {iv}),")


def q_region_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: COUNT(DISTINCT item) per region (Postgres.cpp:934)."""
    eng = _engine(spark, sf_dir)
    regions = [QuerySpec.from_shape(0, POLY_L, "distinct"),
               QuerySpec(1, [RECTS[1]], "distinct"),
               QuerySpec(2, [RECTS[3]], "distinct")]
    return _result(eng, regions)


def oracle_region_distinct() -> str:
    ranges = [shape_to_ranges(POLY_L), [RECTS[1]], [RECTS[3]]]
    agg = "SELECT qid, COUNT(DISTINCT item) AS v FROM matched GROUP BY qid"
    return _region_agg_sql(ranges, agg)


def q_region_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: EXISTS(item in region) (Postgres.cpp:1157); est in {0,1}."""
    eng = _engine(spark, sf_dir)
    probes = [(RECTS[0], 5), (RECTS[0], 254), (RECTS[2], 60),
              ((0, 0, 15, 15), 3)]
    qs = [QuerySpec(i, [r], "member", item=it)
          for i, (r, it) in enumerate(probes)]
    return _result(eng, qs)


def oracle_region_member() -> str:
    probes = [(RECTS[0], 5), (RECTS[0], 254), (RECTS[2], 60),
              ((0, 0, 15, 15), 3)]
    iv = ",".join(f"({i},{it})" for i, (_, it) in enumerate(probes))
    agg = ("SELECT m.qid, CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS v "
           "FROM matched m JOIN qitems qi "
           "ON qi.qid = m.qid AND m.item = qi.item GROUP BY m.qid")
    return _region_agg_sql([[r] for r, _ in probes], agg,
                           extra_values=f"qitems(qid, item) AS (VALUES {iv}),")


def q_region_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: self-join size SUM(cnt^2) per region (Postgres.cpp:1353)."""
    eng = _engine(spark, sf_dir)
    qs = [QuerySpec.from_shape(0, POLY_U, "l2"),
          QuerySpec(1, [RECTS[0]], "l2"),
          QuerySpec(2, [RECTS[2]], "l2")]
    return _result(eng, qs)


def oracle_region_l2() -> str:
    ranges = [shape_to_ranges(POLY_U), [RECTS[0]], [RECTS[2]]]
    agg = ("SELECT qid, SUM(c * c) AS v FROM ("
           "SELECT qid, item, SUM(value) AS c FROM matched "
           "GROUP BY qid, item) GROUP BY qid")
    return _region_agg_sql(ranges, agg)


def q_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: region AND item = v AND ts >= t0 (Postgres.cpp:735) — the
    ECM sliding-window semantics, answered exactly by the exact kernel."""
    eng = _engine(spark, sf_dir)
    probes = [(RECTS[0], 3, 1000), (RECTS[1], 17, 5000),
              (RECTS[2], 42, 0), (RECTS[3], 9, 10 ** 9)]
    qs = [QuerySpec(i, [r], "window", item=it, t0=t0)
          for i, (r, it, t0) in enumerate(probes)]
    return _result(eng, qs)


def oracle_window_count() -> str:
    probes = [(RECTS[0], 3, 1000), (RECTS[1], 17, 5000),
              (RECTS[2], 42, 0), (RECTS[3], 9, 10 ** 9)]
    iv = ",".join(f"({i},{it},{t0})" for i, (_, it, t0) in enumerate(probes))
    agg = ("SELECT m.qid, SUM(m.value) AS v FROM matched m "
           "JOIN qp ON qp.qid = m.qid AND m.item = qp.item "
           "AND m.ts >= qp.t0 GROUP BY m.qid")
    return _region_agg_sql([[r] for r, _, _ in probes], agg,
                           extra_values=f"qp(qid, item, t0) AS (VALUES {iv}),")


def q_window_count_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 answered in the reference's second (ECM_merge) query mode
    (SpatialSketch.cpp:1175-1221): the cover cells' histograms are
    merged FIRST (MergeECM arrival reconstruction), then one HistSum —
    vs q_window_count's per-cell HistSum + sum. In exact mode both must
    equal the same oracle; merge-order invariance of the lossy EH fold
    is asserted in tests/test_dynsketch.py::test_window_merge_mode."""
    eng = _engine(spark, sf_dir)
    probes = [(RECTS[0], 3, 1000), (RECTS[1], 17, 5000),
              (RECTS[2], 42, 0), (RECTS[3], 9, 10 ** 9)]
    qs = [QuerySpec(i, [r], "window_merge", item=it, t0=t0)
          for i, (r, it, t0) in enumerate(probes)]
    return _result(eng, qs)


# unaligned fixture: half-integer vertices NOT on the 16-cell block
# grid, so floor-level cover cells carry fractional coverage and the
# estimate is the reference's coverage-scaled truncation
# (SpatialSketch.cpp:660-676,766) — inexact by design.
POLY_FRAC = Shape(rings=[[(100.5, 50.5), (2000.5, 50.5), (2000.5, 1500.5),
                          (1000.5, 1500.5), (1000.5, 2500.5),
                          (100.5, 2500.5)]],
                  grid_size=N, name="frac-L")
FRAC_RECTS = [(3.5, 7.5, 1234.5, 2345.5), (2000.5, 2000.5, 3210.5, 3456.5)]


def q_polygon_count_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-coverage gate: truncated estimates cannot be
    bit-equal to SQL, but they carry a PROVEN envelope — for every
    cover cell, both the estimate floor(cov * cell_total) and the true
    in-region mass lie in [0, cell_total], and full-coverage cells are
    exact, so |est - truth| <= sum of cell totals over partial-coverage
    cells. The gate emits ok = (|est - truth| <= bound) per query and
    the oracle emits the constant 1 — hash-equal iff every estimate is
    inside its envelope. truth is computed by the same raw-event
    aggregation that geo_polygon_count proves equal to DuckDB.

    Round 4 upgraded this no-drops variant to a FULL recomputation:
    coverages are dyadic rationals, so cov·cell_total is an exact
    double and floor of it exact — the oracle rebuilds every cover
    cell's mass in SQL and compares the ESTIMATE bit-for-bit alongside
    ok (the dropped-grid variant keeps the envelope-only oracle: its
    cover depends on the DynSketch's data-dependent drop set)."""
    return _frac_envelope(spark, sf_dir, _engine(spark, sf_dir),
                          with_est=True)


def q_polygon_count_frac_dyn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two SURVEY §7 'hard parts' COMBINED: fractional coverage AND
    dropped grids — the query-side cover rewrite must subdivide dropped
    cells while floor-level fractional elements stay answerable (the
    drop policy never drops the floor grid). Same envelope flag, same
    literal-1s oracle."""
    key = (sf_dir, N, MIN_LEVEL, "exact-dyn")
    if _STORES.get(key) is None:
        q_polygon_count_dynsketch(spark, sf_dir)       # builds + caches
    return _frac_envelope(spark, sf_dir, SpatialSketchEngine(_STORES[key]))


def _frac_envelope(spark: SparkSession, sf_dir: str, eng,
                   with_est: bool = False) -> DataFrame:
    st = eng.store
    shapes_ranges = [shape_to_ranges(POLY_FRAC)] + [
        [(int(x1 + 0.5), int(y1 + 0.5), int(x2 - 0.5), int(y2 - 0.5))]
        for (x1, y1, x2, y2) in FRAC_RECTS]
    qs = [QuerySpec(i, rs, "count") for i, rs in enumerate(shapes_ranges)]
    est = eng.query(qs)

    from .geo.events import derive_geo_events
    ev = derive_geo_events(spark, sf_dir, N)
    rect_rows = [(q.qid, x1, y1, x2, y2)
                 for q in qs for (x1, y1, x2, y2) in q.ranges]
    rects = spark.createDataFrame(
        rect_rows, "qid BIGINT, x1 BIGINT, y1 BIGINT, x2 BIGINT, y2 BIGINT")
    cond = (F.col("x").between(F.col("x1"), F.col("x2"))
            & F.col("y").between(F.col("y1"), F.col("y2")))
    truth = (ev.join(F.broadcast(rects), cond)
             .groupBy("qid").agg(F.sum("value").alias("truth")))

    cover = (eng._cover_df([(q.qid, q.ranges) for q in qs])
             .withColumnRenamed("pid", "qid"))
    bound = (st.df.join(F.broadcast(
                 cover.where(F.col("coverage") < 1.0)
                 .select("qid", "grid_key", "cell")),
                 ["grid_key", "cell"])
             .groupBy("qid").agg(F.sum("val_sum").alias("bound")))

    ok = (F.when(F.abs(F.col("est") - F.coalesce("truth", F.lit(0)))
                 <= F.coalesce("bound", F.lit(0)), 1)
          .otherwise(0).cast("bigint").alias("ok"))
    j = est.join(truth, "qid", "left").join(bound, "qid", "left")
    if with_est:
        # the estimate itself is exactly recomputable (coverages are
        # dyadic rationals: cov*cell_total is an exact double, floor
        # exact) — the no-drops gate compares it bit-for-bit
        return j.select("qid", F.col("est").cast("bigint").alias("est"),
                        ok).orderBy("qid")
    return j.select("qid", ok).orderBy("qid")


def oracle_polygon_count_frac() -> str:
    """Full recomputation: every cover cell's mass from the raw events,
    est = Σ floor(cov · mass) (exact: cov is dyadic), bound = Σ mass
    over partial-coverage rows, ok = |est − truth| ≤ bound. Cover rows
    carry a row id so two rects of one query sharing a floor cell stay
    separate — mirroring the engine's per-rect cover exactly."""
    from .core.dyadic import cover_2d
    log_n = 12
    shapes_ranges = [shape_to_ranges(POLY_FRAC)] + [
        [(int(x1 + 0.5), int(y1 + 0.5), int(x2 - 0.5), int(y2 - 0.5))]
        for (x1, y1, x2, y2) in FRAC_RECTS]
    cover_vals, probe_vals = [], []
    rid = 0
    for qid, rs in enumerate(shapes_ranges):
        for (x1, y1, x2, y2) in rs:
            probe_vals.append(f"({qid},{x1},{y1},{x2},{y2})")
            for (kx, ky, cx, cy, cov) in cover_2d(
                    x1, y1, x2, y2, log_n, MIN_LEVEL, MIN_LEVEL):
                cover_vals.append(
                    f"({qid},{rid},{cx << kx},{((cx + 1) << kx) - 1},"
                    f"{cy << ky},{((cy + 1) << ky) - 1},{cov!r})")
                rid += 1
    return f"""
WITH geo AS ({geo_events_sql(N)}),
cover(qid, rid, cx1, cx2, cy1, cy2, cov) AS (VALUES {",".join(cover_vals)}),
probes(qid, x1, y1, x2, y2) AS (VALUES {",".join(probe_vals)}),
cellsum AS (
  SELECT c.qid, c.rid, c.cov, COALESCE(SUM(e.value), 0) AS s
  FROM cover c
  LEFT JOIN geo e ON e.x BETWEEN c.cx1 AND c.cx2
                 AND e.y BETWEEN c.cy1 AND c.cy2
  GROUP BY c.qid, c.rid, c.cov),
est AS (
  SELECT qid, CAST(SUM(CAST(FLOOR(cov * s) AS BIGINT)) AS BIGINT) AS est,
         CAST(SUM(CASE WHEN cov < 1.0 THEN s ELSE 0 END) AS BIGINT)
           AS bound
  FROM cellsum GROUP BY qid),
truth AS (
  SELECT pr.qid, COALESCE(SUM(e.value), 0) AS t
  FROM probes pr
  LEFT JOIN geo e ON e.x BETWEEN pr.x1 AND pr.x2
                 AND e.y BETWEEN pr.y1 AND pr.y2
  GROUP BY pr.qid)
SELECT CAST(e.qid AS BIGINT) AS qid, CAST(e.est AS BIGINT) AS est,
       CAST(CASE WHEN ABS(e.est - t.t) <= e.bound
             THEN 1 ELSE 0 END AS BIGINT) AS ok
FROM est e JOIN truth t ON t.qid = e.qid
ORDER BY qid
"""


def oracle_polygon_count_frac_dyn() -> str:
    """Envelope-only oracle for the dropped-grid variant: its cover
    depends on the DynSketch's data-dependent drop set, which the
    statically-generated SQL cannot know — ok flags only."""
    return f"""
SELECT CAST(qid AS BIGINT) AS qid, CAST(1 AS BIGINT) AS ok
FROM (VALUES {_qid_values(1 + len(FRAC_RECTS))}) t(qid)
ORDER BY qid
"""


def q_item_range_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: region AND item BETWEEN a AND b (Postgres.cpp:715) — the
    dyadic-CM query class."""
    eng = _engine(spark, sf_dir)
    probes = [(RECTS[0], 10, 20), (RECTS[1], 0, 255), (RECTS[2], 100, 101),
              (RECTS[3], 200, 255)]
    qs = [QuerySpec(i, [r], "range_freq", item=a, item_end=b)
          for i, (r, a, b) in enumerate(probes)]
    return _result(eng, qs)


def oracle_item_range_freq() -> str:
    probes = [(RECTS[0], 10, 20), (RECTS[1], 0, 255), (RECTS[2], 100, 101),
              (RECTS[3], 200, 255)]
    iv = ",".join(f"({i},{a},{b})" for i, (_, a, b) in enumerate(probes))
    agg = ("SELECT m.qid, SUM(m.value) AS v FROM matched m "
           "JOIN qp ON qp.qid = m.qid AND m.item BETWEEN qp.a AND qp.b "
           "GROUP BY m.qid")
    return _region_agg_sql([[r] for r, _, _ in probes], agg,
                           extra_values=f"qp(qid, a, b) AS (VALUES {iv}),")


def q_item_range_dcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same D3 item-range semantics answered by a *dyadic-CM* store
    (per-cell 1-D dyadic hierarchy over items, DyadCountMin.cpp) with
    all-exact levels — the engine's MultiDimCM-equivalent config
    (SURVEY.md §2 C11). Oracle identical to geo_item_range_freq."""
    key = (sf_dir, N, MIN_LEVEL, "dcm")
    st = _STORES.get(key)
    if st is None:
        cfg = SketchConfig(n=N, eps=0.1, delta=0.05,
                           item_domain=ITEM_DOMAIN, dcm_exact_levels=9)
        ev = derive_geo_events(spark, sf_dir, N)
        st = SketchStore.build(spark, ev, cfg, "dcm", MIN_LEVEL)
        st.df = st.df.cache()
        _STORES[key] = st
    eng = SpatialSketchEngine(st)
    probes = [(RECTS[0], 10, 20), (RECTS[1], 0, 255), (RECTS[2], 100, 101),
              (RECTS[3], 200, 255)]
    qs = [QuerySpec(i, [r], "range_freq", item=a, item_end=b)
          for i, (r, a, b) in enumerate(probes)]
    return _result(eng, qs)


def q_span_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-doc plumbing: build the span table, extract geo events
    back out (posexplode + array filter), roll up per item. Verifies the
    span path against the arithmetic derivation."""
    docs = build_interleaved_docs(spark, sf_dir, N, n_docs=N_DOCS)
    ev = extract_geo_events(docs)
    return (ev.groupBy("item").agg(F.sum("value").alias("cnt"))
            .select("item", "cnt").orderBy("item"))


def oracle_span_rollup() -> str:
    return f"""
WITH geo AS ({_geo_cte()})
SELECT item, CAST(SUM(value) AS BIGINT) AS cnt
FROM geo GROUP BY item ORDER BY item
"""


def q_span_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's per-row invariant AS A GATE: each interleaved
    doc's ordered span sequence (kind, text, media_ref, order),
    fingerprinted after the full build path — union of three span
    kinds, groupBy + sort_array over collected structs, nested-array
    transform — so a single out-of-order, dropped, or mutated span in
    ANY doc flips the compare. The oracle rebuilds every sequence
    arithmetically in DuckDB with string_agg(... ORDER BY ord).
    -> (doc_id, n_spans, fp), ordered."""
    from .sources.interleaved import span_sequence
    docs = build_interleaved_docs(spark, sf_dir, N, n_docs=N_DOCS)
    seq = span_sequence(docs)
    fp = F.conv(F.substring(F.md5(F.array_join("seq", "~")), 1, 15),
                16, 10).cast("bigint")
    return (seq.select("doc_id",
                       F.size("seq").cast("bigint").alias("n_spans"),
                       fp.alias("fp"))
            .orderBy("doc_id"))


def oracle_span_sequence() -> str:
    return f"""
WITH geo AS ({_geo_cte()}),
sp AS (
  SELECT ts % {N_DOCS} AS doc_key, ts * 10 AS ord,
         'geo' || '|' || ts || ',' || item || ',' || x || ',' || y
               || ',' || value || '|' AS s
  FROM geo
  UNION ALL
  SELECT ts % {N_DOCS}, ts * 10 + 1,
         'text' || '|' || 'filler text #' || ts || '|'
  FROM geo WHERE ts % 3 = 0
  UNION ALL
  SELECT ts % {N_DOCS}, ts * 10 + 2,
         'media' || '||' || 's3://media/' || (ts % {N_DOCS}) || '/' || ts
  FROM geo WHERE ts % 5 = 0)
SELECT printf('doc_%012d', doc_key) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ('0x' || substr(md5(string_agg(s, '~' ORDER BY ord)), 1, 15))
         ::BIGINT AS fp
FROM sp GROUP BY doc_key ORDER BY doc_id
"""


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.joins import distance_join
    ev = derive_geo_events(spark, sf_dir, N)
    a = ev.where("ts % 2 = 0").select(F.col("ts").alias("a_id"),
                                      F.col("x").alias("ax"),
                                      F.col("y").alias("ay"))
    b = ev.where("ts % 2 = 1").select(F.col("ts").alias("b_id"),
                                      F.col("x").alias("bx"),
                                      F.col("y").alias("by"))
    return distance_join(a, b)


def oracle_distance_join_gate() -> str:
    from .geo.joins import oracle_distance_join
    return oracle_distance_join(_geo_cte())


def q_decayed_heat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.trajectory import decayed_tile_heat
    return decayed_tile_heat(derive_geo_events(spark, sf_dir, N))


def oracle_decayed_heat_gate() -> str:
    from .geo.trajectory import oracle_decayed_tile_heat
    return oracle_decayed_tile_heat(_geo_cte())


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.trajectory import od_matrix
    return od_matrix(derive_geo_events(spark, sf_dir, N))


def oracle_od_matrix_gate() -> str:
    from .geo.trajectory import oracle_od_matrix
    return oracle_od_matrix(_geo_cte())


def q_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.trajectory import trajectory_stats
    ev = derive_geo_events(spark, sf_dir, N)
    return trajectory_stats(ev).orderBy("item")


def oracle_trajectory() -> str:
    from .geo.trajectory import oracle_trajectory_stats
    return oracle_trajectory_stats(_geo_cte())


def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.trajectory import multires_rollup
    ev = derive_geo_events(spark, sf_dir, N)
    return multires_rollup(ev).orderBy("shift", "cx", "cy")


def oracle_multires_rollup() -> str:
    from .geo.trajectory import oracle_multires_rollup as _o
    return _o(_geo_cte())


def q_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.joins import hotspot_cells
    ev = derive_geo_events(spark, sf_dir, N)
    return hotspot_cells(ev, N).orderBy("cx", "cy")


def oracle_hotspot() -> str:
    from .geo.joins import oracle_hotspot_cells
    return oracle_hotspot_cells(f"WITH geo AS ({_geo_cte()})", N)


def q_cluster_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .geo.joins import cluster_hotspots
    ev = derive_geo_events(spark, sf_dir, N)
    return cluster_hotspots(ev, N).orderBy("cx", "cy")


def oracle_cluster_hotspots_sql() -> str:
    from .geo.joins import oracle_cluster_hotspots
    return oracle_cluster_hotspots(
        f"WITH RECURSIVE geo AS ({_geo_cte()})", N)


# ---------------------------------------------------------------------------
# exact spatial joins / tiling (north_rule operators; SURVEY.md §2.F)
# ---------------------------------------------------------------------------

KNN_POINTS = [(0, 100, 100), (1, 2048, 2048), (2, 4000, 50), (3, 1, 4095)]
TILE_LEVEL = 8  # 256-cell tiles -> 16x16 tile grid at N=4096


def _rects_values_sql() -> str:
    from .geo.joins import rects_df  # reuse decomposition only
    rows = []
    for sid, sh in enumerate(POLYGONS):
        for (x1, y1, x2, y2) in shape_to_ranges(sh):
            rows.append(f"({sid},{x1},{y1},{x2},{y2})")
    return ",".join(rows)


def q_pip_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join (tiled method — the plan that survives when
    the polygon side outgrows broadcast): one row per (event, polygon).
    Exact parity required (north_rule 'matching the reference's join
    output rows')."""
    from .geo.joins import pip_join
    ev = derive_geo_events(spark, sf_dir, N)
    return (pip_join(ev, POLYGONS, method="tiled", tile_level=TILE_LEVEL)
            .select(F.col("shape_id").cast("bigint").alias("shape_id"), "ts")
            .orderBy("shape_id", "ts"))


def oracle_pip_assign() -> str:
    return f"""
WITH geo AS ({_geo_cte()}),
rects(shape_id, x1, y1, x2, y2) AS (VALUES {_rects_values_sql()})
SELECT CAST(r.shape_id AS BIGINT) AS shape_id, g.ts AS ts
FROM rects r JOIN geo g
  ON g.x BETWEEN r.x1 AND r.x2 AND g.y BETWEEN r.y1 AND r.y2
ORDER BY shape_id, ts
"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join, k=5, integer-exact distances, ts tie-break."""
    from .geo.joins import knn_join
    ev = derive_geo_events(spark, sf_dir, N)
    return knn_join(ev, KNN_POINTS, k=5).orderBy("qid", "rank")


def oracle_knn() -> str:
    qv = ",".join(f"({q},{x},{y})" for q, x, y in KNN_POINTS)
    return f"""
WITH geo AS ({_geo_cte()}),
qp(qid, qx, qy) AS (VALUES {qv}),
d AS (
  SELECT qp.qid, g.ts,
         (g.x-qp.qx)*(g.x-qp.qx) + (g.y-qp.qy)*(g.y-qp.qy) AS dist2
  FROM qp CROSS JOIN geo g
),
r AS (
  SELECT qid, ts, dist2,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, ts) AS rank
  FROM d
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
       ts, CAST(dist2 AS BIGINT) AS dist2
FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


def q_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector->raster tile assignment: per (polygon, tile) covered-cell
    count + full/partial status."""
    from .geo.joins import tile_cover
    return (tile_cover(spark, POLYGONS, TILE_LEVEL, N)
            .orderBy("shape_id", "tx", "ty"))


def oracle_tile_cover() -> str:
    tsz = 1 << TILE_LEVEL
    ntile = N // tsz
    return f"""
WITH rects(shape_id, x1, y1, x2, y2) AS (VALUES {_rects_values_sql()}),
grid AS (SELECT gx.range AS tx, gy.range AS ty
         FROM range(0,{ntile}) gx, range(0,{ntile}) gy),
ov AS (
  SELECT r.shape_id, g.tx, g.ty,
         (LEAST(r.x2, (g.tx+1)*{tsz}-1) - GREATEST(r.x1, g.tx*{tsz}) + 1) AS ox,
         (LEAST(r.y2, (g.ty+1)*{tsz}-1) - GREATEST(r.y1, g.ty*{tsz}) + 1) AS oy
  FROM rects r, grid g
)
SELECT CAST(shape_id AS BIGINT) AS shape_id, CAST(tx AS BIGINT) AS tx,
       CAST(ty AS BIGINT) AS ty, CAST(SUM(ox*oy) AS BIGINT) AS covered_cells,
       CASE WHEN SUM(ox*oy) = {tsz * tsz} THEN 'full' ELSE 'partial' END AS status
FROM ov WHERE ox > 0 AND oy > 0
GROUP BY shape_id, tx, ty
ORDER BY shape_id, tx, ty
"""


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster<->vector roundtrip over POLY_L: per-tile event counts with
    the polygon coverage status ('outside' for uncovered tiles)."""
    from .geo.joins import raster_vector_counts
    ev = derive_geo_events(spark, sf_dir, N)
    return (raster_vector_counts(ev, POLY_L, TILE_LEVEL, N)
            .orderBy("tx", "ty"))


def oracle_tile_counts() -> str:
    tsz = 1 << TILE_LEVEL
    rows = ",".join(f"({x1},{y1},{x2},{y2})"
                    for (x1, y1, x2, y2) in shape_to_ranges(POLY_L))
    return f"""
WITH geo AS ({_geo_cte()}),
rects(x1, y1, x2, y2) AS (VALUES {rows}),
counts AS (
  SELECT (x >> {TILE_LEVEL}) AS tx, (y >> {TILE_LEVEL}) AS ty,
         SUM(value) AS cnt
  FROM geo GROUP BY 1, 2
),
ov AS (
  SELECT c.tx, c.ty,
         (LEAST(r.x2, (c.tx+1)*{tsz}-1) - GREATEST(r.x1, c.tx*{tsz}) + 1) AS ox,
         (LEAST(r.y2, (c.ty+1)*{tsz}-1) - GREATEST(r.y1, c.ty*{tsz}) + 1) AS oy
  FROM counts c, rects r
),
cover AS (
  SELECT tx, ty, SUM(ox*oy) AS cc FROM ov
  WHERE ox > 0 AND oy > 0 GROUP BY tx, ty
)
SELECT CAST(c.tx AS BIGINT) AS tx, CAST(c.ty AS BIGINT) AS ty,
       CASE WHEN v.cc = {tsz * tsz} THEN 'full'
            WHEN v.cc IS NULL THEN 'outside' ELSE 'partial' END AS status,
       CAST(c.cnt AS BIGINT) AS cnt
FROM counts c LEFT JOIN cover v ON v.tx = c.tx AND v.ty = c.ty
ORDER BY tx, ty
"""


def q_lonlat_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference lon/lat -> grid quantization (RealWorld.ipynb:720-721)
    over the deterministic synthetic lon/lat stream, rolled up per
    64-cell tile: cnt + sum(x) + sum(y) pin every event's quantized
    cell against the DuckDB mirror."""
    from .sources.geocells import derive_lonlat_events, lonlat_quantize
    ll = derive_lonlat_events(spark, sf_dir)
    q = lonlat_quantize(ll, N)
    return (q.groupBy(F.shiftright("x", 6).alias("qx"),
                      F.shiftright("y", 6).alias("qy"))
            .agg(F.count("*").cast("bigint").alias("cnt"),
                 F.sum("x").cast("bigint").alias("sx"),
                 F.sum("y").cast("bigint").alias("sy"))
            .select(F.col("qx").cast("bigint"), F.col("qy").cast("bigint"),
                    "cnt", "sx", "sy")
            .orderBy("qx", "qy"))


def oracle_lonlat_quantize() -> str:
    from .sources.geocells import oracle_lonlat_quantize_sql
    return oracle_lonlat_quantize_sql(N, 6)


# cap fixture: (lon0, lat0, radius_rad). Boundary margin measured at
# min |dot - cos(r)| = 5.9e-5 over sf0.001/sf0.01 — ten orders above
# any cross-engine libm ulp drift, so the compared ROW SET (integer ts)
# cannot flip between Spark and DuckDB.
CAP_FIXTURE = (20.0, 45.0, 0.30)


def q_cap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical range query (s2ish cap cover prune + exact great-
    circle predicate — the RegionCoverer/polyfill analogue) over the
    deterministic lon/lat stream; compared row-for-row against the
    brute-force DuckDB haversine filter. The cover being a proven
    superset (tests/test_geocells.py) makes the result independent of
    cover tightness."""
    from .sources.geocells import cap_filter, derive_lonlat_events
    lon0, lat0, rad = CAP_FIXTURE
    ll = derive_lonlat_events(spark, sf_dir)
    return cap_filter(ll, lon0, lat0, rad, res=7) \
        .select(F.col("ts").cast("bigint")).orderBy("ts")


def oracle_cap_filter() -> str:
    from .sources.geocells import lonlat_sql
    lon0, lat0, rad = CAP_FIXTURE
    return f"""
WITH ll AS ({lonlat_sql()})
SELECT CAST(ts AS BIGINT) AS ts
FROM ll
WHERE cos(radians(lat)) * cos(radians({lat0}))
      * cos(radians(lon) - radians({lon0}))
      + sin(radians(lat)) * sin(radians({lat0})) >= cos({rad})
ORDER BY ts
"""


def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F10 driver gate: REAL Structured-Streaming ingestion — a file
    source consumed in availableNow micro-batches through foreachBatch
    (each one an exactly-once store append), a SECOND appended batch
    picked up incrementally from the checkpoint, then ``compact()``
    committing
    a first-class snapshot — queried through the full exact pipeline
    and compared row-for-row against DuckDB over the union input. The
    one gate that runs readStream/writeStream inside the driver's
    correctness harness (reference: continuous Update() loop,
    experiments.cpp:312-319)."""
    key = (sf_dir, N, MIN_LEVEL, "stream")
    st = _STORES.get(key)
    if st is None:
        import shutil
        import tempfile
        from .geo.events import derive_geo_events
        from .streaming.sketch_stream import StreamingSketch
        schema = "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT"
        ev = derive_geo_events(spark, sf_dir, N)
        base = tempfile.mkdtemp(prefix="gate_stream_")
        try:
            src = f"{base}/src"
            ev.where(F.col("ts") % 2 == 0).write.mode("overwrite") \
                .parquet(src)
            cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
            ss = StreamingSketch(spark, cfg, "exact", MIN_LEVEL,
                                 f"{base}/store")
            ss.start(spark.readStream.schema(schema).parquet(src)) \
                .awaitTermination(300)
            # append-only source growth -> the next run ingests ONLY the
            # new files (offsets from the stream checkpoint)
            ev.where(F.col("ts") % 2 == 1).write.mode("append") \
                .parquet(src)
            ss.start(spark.readStream.schema(schema).parquet(src)) \
                .awaitTermination(300)
            st = ss.compact()
            # pin the snapshot, then drop the temp tree (ADVICE r4: each
            # driver run leaked src+store+checkpoint). localCheckpoint
            # truncates lineage and WRITES the blocks, so a later
            # recompute (cached blocks are evictable under memory
            # pressure) can never try to re-read the deleted parquet
            # (ADVICE r5)
            st.df = st.df.localCheckpoint(eager=True)
            st.path = None  # snapshot dir is gone; disable re-commit
            _STORES[key] = st
        finally:
            shutil.rmtree(base, ignore_errors=True)
    eng = SpatialSketchEngine(st)
    items = [3, 17, 42, 255]
    qs = ([QuerySpec(i, [r], "count") for i, r in enumerate(RECTS)]
          + [QuerySpec(len(RECTS) + i, [r], "freq", item=it)
             for i, (r, it) in enumerate(zip(RECTS, items))])
    return _result(eng, qs)


def oracle_stream_ingest() -> str:
    """The streamed store over batch₀ ∪ batch₁ must equal the batch
    answer over ALL events — same region aggregation the exact gates
    prove equal to DuckDB."""
    items = [3, 17, 42, 255]
    iv = ",".join(f"({len(RECTS) + i},{it})"
                  for i, it in enumerate(items))
    agg = ("SELECT m.qid, SUM(m.value) AS v FROM matched m "
           "LEFT JOIN qi ON qi.qid = m.qid "
           "WHERE qi.item IS NULL OR qi.item = m.item GROUP BY m.qid")
    return _region_agg_sql([[r] for r in RECTS] + [[r] for r in RECTS],
                           agg, extra_values=f"qi(qid, item) AS "
                                             f"(VALUES {iv}),")


GATE_QUERIES = {
    "geo_stream_ingest": (q_stream_ingest, oracle_stream_ingest),
    "geo_polygon_count": (q_polygon_count, oracle_polygon_count),
    "geo_polygon_count_dynsketch": (q_polygon_count_dynsketch,
                                    oracle_polygon_count),
    "geo_rect_item_freq": (q_rect_item_freq, oracle_rect_item_freq),
    "geo_region_distinct": (q_region_distinct, oracle_region_distinct),
    "geo_region_member": (q_region_member, oracle_region_member),
    "geo_region_l2": (q_region_l2, oracle_region_l2),
    "geo_window_count": (q_window_count, oracle_window_count),
    "geo_window_count_merge": (q_window_count_merge, oracle_window_count),
    "geo_polygon_count_frac": (q_polygon_count_frac,
                               oracle_polygon_count_frac),
    "geo_polygon_count_frac_dyn": (q_polygon_count_frac_dyn,
                                   oracle_polygon_count_frac_dyn),
    "geo_item_range_freq": (q_item_range_freq, oracle_item_range_freq),
    "geo_item_range_dcm": (q_item_range_dcm, oracle_item_range_freq),
    "geo_span_rollup": (q_span_rollup, oracle_span_rollup),
    # r7: the input_hint per-row invariant as a driver gate — ordered
    # span-sequence fingerprints per doc
    "geo_span_sequence": (q_span_sequence, oracle_span_sequence),
    "geo_trajectory": (q_trajectory, oracle_trajectory),
    # r7: origin-destination tile flows (mobility rollup)
    "geo_od_matrix": (q_od_matrix, oracle_od_matrix_gate),
    # r7: freshness-weighted density via integer shift decay
    "geo_decayed_heat": (q_decayed_heat, oracle_decayed_heat_gate),
    # r7: point x point distance join (within-d spatial similarity)
    "geo_distance_join": (q_distance_join, oracle_distance_join_gate),
    "geo_multires_rollup": (q_multires_rollup, oracle_multires_rollup),
    "geo_hotspot": (q_hotspot, oracle_hotspot),
    "geo_pip_assign": (q_pip_assign, oracle_pip_assign),
    "geo_knn": (q_knn, oracle_knn),
    "geo_tile_cover": (q_tile_cover, oracle_tile_cover),
    "geo_tile_counts": (q_tile_counts, oracle_tile_counts),
    "geo_lonlat_quantize": (q_lonlat_quantize, oracle_lonlat_quantize),
    "geo_snapshot_travel": (q_snapshot_travel, oracle_snapshot_travel),
    "geo_cap_filter": (q_cap_filter, oracle_cap_filter),
    "geo_cap_knn": (q_cap_knn, oracle_cap_knn),
    # r7: corridor (polyline-buffer) query — exact division-free
    # point-to-segment test; block join bounds the scan
    "geo_corridor_filter": (
        lambda s, d: _corridor_filter(
            derive_geo_events(s, d, N), s, n=N),
        lambda: _oracle_corridor(_geo_cte())),
    # r7: MANY routes in ONE plan — the batched corridor form (single
    # stream scan; per-route dedup before the rollup)
    "geo_corridor_batch": (
        lambda s, d: _corridor_batch(derive_geo_events(s, d, N), s, n=N),
        lambda: _oracle_corridor_batch(_geo_cte())),
    "geo_polygon_sphere": (q_polygon_sphere, oracle_polygon_sphere),
    # r6: Z-order layout (lakehouse spatial clustering primitive)
    "geo_zorder_layout": (
        lambda s, d: q_zorder_layout(s, d, N),
        lambda: oracle_zorder_layout(N)),
    # r7: Hilbert-curve layout (the jump-free locality twin of zorder)
    "geo_hilbert_layout": (
        lambda s, d: q_hilbert_layout(s, d, N),
        lambda: oracle_hilbert_layout(N)),
    # r6: hot-cell connected components (DBSCAN-core density clusters)
    "geo_cluster_hotspots": (q_cluster_hotspots,
                             oracle_cluster_hotspots_sql),
    # r6: standard geohash encode + prefix rollup
    "geo_geohash_rollup": (
        lambda s, d: q_geohash_rollup(s, d).orderBy("gh4"),
        oracle_geohash_rollup),
    # r7: hexagonal binning (H3-style tiling, no library, no floats)
    "geo_hexbin_rollup": (
        lambda s, d: q_hexbin_rollup(s, d, N).orderBy("hx", "hy"),
        lambda: oracle_hexbin_rollup(N)),
    # r7: rect query answered AGAINST the hex layout via the
    # driver-enumerated candidate cell-set predicate + exact residual;
    # oracle filters the rect directly (independent semantics)
    "geo_hex_cell_reader": (
        lambda s, d: q_hex_cell_reader(
            s, d, N, HEX_READER_RECT).orderBy("hx", "hy"),
        lambda: oracle_hex_cell_reader(N, HEX_READER_RECT)),
    # r7: hex k-ring stencil smoothing (stencil-as-join, 7 offsets)
    "geo_hex_kring_smooth": (
        lambda s, d: q_hex_kring_smooth(s, d, N),
        lambda: oracle_hex_kring_smooth(N)),
}

from .gate_pipeline import PIPELINE_GATE  # noqa: E402
GATE_QUERIES.update(PIPELINE_GATE)
from .gate_envelope import ENVELOPE_GATE  # noqa: E402
GATE_QUERIES.update(ENVELOPE_GATE)


def _staleness_order(gates: dict) -> dict:
    """Rotate the gate registry so the driver's fixed-size CORRECTNESS
    window (it records the first 50 ``queries()`` entries in dict order)
    always covers the gates whose driver verification is oldest.

    The driver writes ``CORRECTNESS_r{NN}.json`` into the repo root each
    round; we scan those at import time and sort gates ascending by the
    most recent round in which each had a green driver row (never-verified
    sorts first, ties broken by name for determinism).  With G gates and a
    window of 50, every gate gets a fresh driver row at least every
    ``ceil(G/50) + 1`` rounds, with no per-round manual reordering.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            # only PASSED rows count as driver-verified (ADVICE r4):
            # a failed row (err set, or any recorded match false) must
            # keep the gate at the front of the window, not rotate it
            # out for a round while it is known-broken
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            checks = [row.get(k) for k in
                      ("rows_match", "schema_match", "hash_match")
                      if k in row]
            if not checks or not all(c is True for c in checks):
                continue
            last_round[name] = max(last_round.get(name, -1), rnd)
    order = sorted(gates, key=lambda n: (last_round.get(n, -1), n))
    return {name: gates[name] for name in order}


GATE_QUERIES = _staleness_order(GATE_QUERIES)
