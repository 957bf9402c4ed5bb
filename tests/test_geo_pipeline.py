"""End-to-end Spark pipeline tests: sketch build (map-side-combined),
partitioning invariance, polygon queries vs exact Spark SQL, resume."""

import inspect
import json
import logging
import os
import pathlib

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from spatialsketch_spark.config import SketchConfig
from spatialsketch_spark.geo.build import SketchStore
from spatialsketch_spark.geo.events import derive_geo_events, ITEM_DOMAIN
from spatialsketch_spark.geo.query import QuerySpec, SpatialSketchEngine
from spatialsketch_spark.core.partitioner import Shape

from conftest import SF_UNIT

N = 64          # small grid for unit tests (full pyramid, min_level 0)
MIN_LEVEL = 0


@pytest.fixture(scope="module")
def events(spark):
    return derive_geo_events(spark, SF_UNIT, N).cache()


@pytest.fixture(scope="module")
def exact_store(spark, events):
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    return SketchStore.build(spark, events, cfg, "exact", MIN_LEVEL)


def truth_count(events, ranges, item=None, item_end=None, t0=None):
    cond = F.lit(False)
    for x1, y1, x2, y2 in ranges:
        cond = cond | (F.col("x").between(x1, x2) & F.col("y").between(y1, y2))
    df = events.filter(cond)
    if item is not None:
        if item_end is not None:
            df = df.filter(F.col("item").between(item, item_end))
        else:
            df = df.filter(F.col("item") == item)
    if t0 is not None:
        df = df.filter(F.col("ts") >= t0)
    return df.agg(F.coalesce(F.sum("value"), F.lit(0))).collect()[0][0]


L_SHAPE = Shape(rings=[[(-0.5, -0.5), (39.5, -0.5), (39.5, 19.5), (19.5, 19.5),
                        (19.5, 39.5), (-0.5, 39.5)]], grid_size=N, name="L")


def test_exact_freq_matches_sql(spark, events, exact_store):
    eng = SpatialSketchEngine(exact_store)
    queries = [QuerySpec.from_shape(0, L_SHAPE, "freq", item=3),
               QuerySpec.from_shape(1, L_SHAPE, "freq", item=7),
               QuerySpec(2, [(10, 10, 40, 50)], "freq", item=12),
               QuerySpec(3, [(0, 0, 63, 63)], "freq", item=5)]
    got = {r["qid"]: r["est"] for r in eng.query(queries).collect()}
    assert got[0] == truth_count(events, L_SHAPE and QuerySpec.from_shape(0, L_SHAPE).ranges, item=3)
    assert got[1] == truth_count(events, QuerySpec.from_shape(1, L_SHAPE).ranges, item=7)
    assert got[2] == truth_count(events, [(10, 10, 40, 50)], item=12)
    assert got[3] == truth_count(events, [(0, 0, 63, 63)], item=5)


def test_exact_other_kinds(spark, events, exact_store):
    eng = SpatialSketchEngine(exact_store)
    rng = [(8, 8, 55, 40)]
    queries = [
        QuerySpec(0, rng, "distinct"),
        QuerySpec(1, rng, "member", item=3),
        QuerySpec(2, rng, "member", item=250),       # absent item
        QuerySpec(3, rng, "l2"),
        QuerySpec(4, rng, "window", item=3, t0=500),
        QuerySpec(5, rng, "range_freq", item=10, item_end=20),
    ]
    got = {r["qid"]: r["est"] for r in eng.query(queries).collect()}

    cond = (F.col("x").between(8, 55) & F.col("y").between(8, 40))
    reg = events.filter(cond)
    assert got[0] == reg.select("item").distinct().count()
    assert got[1] == int(reg.filter(F.col("item") == 3).count() > 0)
    assert got[2] == 0
    l2 = (reg.groupBy("item").agg(F.sum("value").alias("c"))
          .agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0])
    assert got[3] == l2
    assert got[4] == truth_count(events, rng, item=3, t0=500)
    assert got[5] == truth_count(events, rng, item=10, item_end=20)


def test_build_parallelism_invariance(spark, events):
    """Same sketch table at 2 and 8 partitions (map-side-combine
    correctness; also the determinism precondition for the N-vs-4N
    scaling evidence)."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    a = SketchStore.build(spark, events.repartition(2), cfg, "exact", 2)
    b = SketchStore.build(spark, events.repartition(8), cfg, "exact", 2)
    pa = {(r["grid_key"], r["cell"]): (r["payload"], r["n_events"])
          for r in a.df.collect()}
    pb = {(r["grid_key"], r["cell"]): (r["payload"], r["n_events"])
          for r in b.df.collect()}
    assert pa.keys() == pb.keys()
    from spatialsketch_spark.core.kernels import make_kernel
    k = make_kernel("exact", cfg)
    for key in pa:
        sa, sb = k.deserialize(pa[key][0]), k.deserialize(pb[key][0])
        assert pa[key][1] == pb[key][1]
        for f in ("items", "values", "ts"):
            np.testing.assert_array_equal(sa[f], sb[f])


def test_cm_realistic_error_bound(spark, events):
    """CM at reference parameters: est >= truth, rel error within the
    eps envelope for heavy items (Tech Report §5.2 observed <= 2%;
    we assert the theoretical eps * L1 bound)."""
    cfg = SketchConfig.realistic(n=N, eps=0.05, delta=0.05,
                                 item_domain=ITEM_DOMAIN)
    store = SketchStore.build(spark, events, cfg, "cm", MIN_LEVEL)
    eng = SpatialSketchEngine(store)
    ranges = QuerySpec.from_shape(0, L_SHAPE).ranges
    total = events.count()
    queries = [QuerySpec.from_shape(i, L_SHAPE, "freq", item=i)
               for i in range(0, 40, 7)]
    got = {r["qid"]: r["est"] for r in eng.query(queries).collect()}
    for i in range(0, 40, 7):
        truth = truth_count(events, ranges, item=i)
        assert got[i] >= truth
        # cover <= 2*log^2 cells; each cell min-row over d rows; loose bound
        assert got[i] - truth <= max(5, 3 * cfg.eps * total)


def test_min_level_coverage_scaling(spark, events):
    """Capped pyramid (min_level=3): aligned queries stay exact,
    unaligned queries answer via fractional coverage (approximate but
    mass-consistent)."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    store = SketchStore.build(spark, events, cfg, "exact", 3)
    eng = SpatialSketchEngine(store)
    # aligned to 8-cell blocks -> exact
    aligned = [(0, 8, 31, 47)]
    got = {r["qid"]: r["est"]
           for r in eng.query([QuerySpec(0, aligned, "freq", item=3)]).collect()}
    assert got[0] == truth_count(events, aligned, item=3)
    # unaligned -> fractional coverage estimate, within the partial-block mass
    unal = [(3, 5, 29, 44)]
    est = {r["qid"]: r["est"]
           for r in eng.query([QuerySpec(1, unal, "freq", item=3)]).collect()}[1]
    truth = truth_count(events, unal, item=3)
    outer = truth_count(events, [(0, 0, 31, 47)], item=3)
    assert 0 <= est <= outer + 1
    assert abs(est - truth) <= max(3, 0.7 * truth)


def test_build_modes_agree(spark, events):
    """'partials' (skew-safe hash shuffle) and 'zorder' (locality range
    partitioning) must produce identical sketch tables."""
    from spatialsketch_spark.geo.build import build_sketch_df
    from spatialsketch_spark.core.kernels import make_kernel
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    a = build_sketch_df(events, cfg, "exact", 2, mode="partials")
    b = build_sketch_df(events, cfg, "exact", 2, mode="zorder")
    k = make_kernel("exact", cfg)
    pa = {(r["grid_key"], r["cell"]): r["payload"] for r in a.collect()}
    pb = {(r["grid_key"], r["cell"]): r["payload"] for r in b.collect()}
    assert pa.keys() == pb.keys()
    for key in pa:
        sa, sb = k.deserialize(pa[key]), k.deserialize(pb[key])
        for f in ("items", "values", "ts"):
            np.testing.assert_array_equal(sa[f], sb[f])


def test_zorder_build_past_16_bit_grid(spark):
    """A grid wider than 2^16 cells per axis: the Z-order range key
    keeps every coordinate bit, and the build equals the skew-safe
    'partials' mode, which uses no range key."""
    from spatialsketch_spark.geo.build import build_sketch_df
    n = 1 << 17
    ev = spark.range(3000).selectExpr(
        "id AS ts", "id % 11 AS item", f"(id * 7919) % {n} AS x",
        f"(id * 104729 + 65536) % {n} AS y", "CAST(1 AS BIGINT) AS value")
    cfg = SketchConfig.exact_mode(item_domain=11, n=n)
    rows = [sorted((r["grid_key"], r["cell"], bytes(r["payload"]))
                   for r in build_sketch_df(ev, cfg, "exact", 10,
                                            mode=mode).collect())
            for mode in ("zorder", "partials")]
    assert rows[0] == rows[1] and len(rows[0]) > 3000


def test_store_resume(spark, events, tmp_path):
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    s1 = SketchStore.build_or_load(spark, events, cfg, "exact", 2, p)
    t1 = s1.manifest["metrics"]["build_wall_s"]
    s2 = SketchStore.build_or_load(spark, events, cfg, "exact", 2, p)
    assert s2.manifest["metrics"]["build_wall_s"] == t1   # served from snapshot
    assert s2.manifest["lineage"] == s1.manifest["lineage"]
    eng = SpatialSketchEngine(s2)
    q = [QuerySpec(0, [(0, 0, 63, 63)], "freq", item=3)]
    got = eng.query(q).collect()[0]["est"]
    assert got == truth_count(events, [(0, 0, 63, 63)], item=3)


def test_trunc_points_pinned(spark):
    """Pin the reference's per-sub-query truncation points
    (SpatialSketch.cpp:766): a floor-level cell with total mass t and
    coverage c contributes exactly floor(c * t) — not round, not
    ceiling, and truncated per cell BEFORE summing."""
    rows = []
    # cell block (0..7)^2 at min_level 3: place 7 events in column x=0..7
    for i in range(7):
        rows.append((i, 3, i % 8, 2, 1))
    # second block (8..15, 0..7): 5 events
    for i in range(5):
        rows.append((100 + i, 3, 8 + (i % 8), 3, 1))
    ev = spark.createDataFrame(
        rows, "ts LONG, item LONG, x LONG, y LONG, value LONG")
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=16)
    store = SketchStore.build(spark, ev, cfg, "exact", 3)
    eng = SpatialSketchEngine(store)
    # query [0..3]x[0..3]: quarter of block 1 only -> floor(0.25*7) = 1
    # (events actually inside: x<=3,y=2 -> 4; the truncated coverage
    # estimate is deliberately different: 1)
    got = {r["qid"]: r["est"] for r in eng.query(
        [QuerySpec(0, [(0, 0, 3, 3)], "count"),
         # [0..11]x[0..7]: block1 full (7) + half of block2
         # -> 7 + floor(0.5*5) = 9
         QuerySpec(1, [(0, 0, 11, 7)], "count"),
         # freq path pays the same trunc: item=3 only in block1
         QuerySpec(2, [(0, 0, 3, 3)], "freq", item=3),
         ]).collect()}
    # coverage is the per-axis product: x in [0..3] of 8 -> 0.5, y the
    # same -> 0.25; floor(0.25 * 7) = 1 (round would give 2)
    assert got[0] == 1
    assert got[1] == 7 + int(0.5 * 1.0 * 5)
    assert got[2] == 1


def test_bucketed_join_fallback_matches_broadcast(spark, events, exact_store,
                                                  monkeypatch):
    """Force the giant-cover fallback (shuffle join against the
    (grid_key, cell)-bucketed sketch cache) and assert it answers
    exactly like the broadcast path."""
    eng = SpatialSketchEngine(exact_store)
    qs = [QuerySpec(i, [(i % 8, (i * 3) % 8, 32 + i % 16, 40 + i % 8)],
                    "count") for i in range(96)]
    # the shared store has served batches: keep both on the SQL path
    monkeypatch.setattr(SpatialSketchEngine, "INDEX_BUDGET_BYTES", 0)
    want = sorted((r["qid"], r["est"])
                  for r in eng.query(qs).collect())
    monkeypatch.setattr(SpatialSketchEngine, "BROADCAST_COVER_ROWS", 0)
    got = sorted((r["qid"], r["est"]) for r in eng.query(qs).collect())
    assert got == want


def test_store_resume_rejects_config_change(spark, events, tmp_path):
    """A snapshot built at one eps/delta must NOT be served for a
    different config (payload layouts differ); build_or_load rebuilds."""
    p = str(tmp_path / "store_cfg")
    cfg1 = SketchConfig.realistic(n=N, eps=0.1, delta=0.05,
                                  item_domain=ITEM_DOMAIN)
    s1 = SketchStore.build_or_load(spark, events, cfg1, "cm", 2, p)
    w1 = s1.manifest["metrics"]["build_wall_s"]
    cfg2 = SketchConfig.realistic(n=N, eps=0.05, delta=0.05,
                                  item_domain=ITEM_DOMAIN)
    s2 = SketchStore.build_or_load(spark, events, cfg2, "cm", 2, p)
    # rebuilt (fresh manifest), and estimates sane under the new config
    assert s2.manifest["cfg"]["eps"] == 0.05
    eng = SpatialSketchEngine(s2)
    est = eng.query([QuerySpec(0, [(0, 0, 63, 63)], "freq", item=3)]) \
        .collect()[0]["est"]
    assert est >= truth_count(events, [(0, 0, 63, 63)], item=3)


def test_mixed_batch_fused_equals_separate(spark, events, exact_store):
    """Mixed count+freq batches take the fused single-consumer path;
    answers must equal issuing the classes separately."""
    eng = SpatialSketchEngine(exact_store)
    mixed = []
    for i in range(8):
        r = [(i, i, 40 + i, 50 - i)]
        mixed.append(QuerySpec(2 * i, r, "count"))
        mixed.append(QuerySpec(2 * i + 1, r, "freq", item=i % 5))
    fused = {r["qid"]: r["est"] for r in eng.query(mixed).collect()}
    cnt_only = {r["qid"]: r["est"]
                for r in eng.query([q for q in mixed
                                    if q.qkind == "count"]).collect()}
    frq_only = {r["qid"]: r["est"]
                for r in eng.query([q for q in mixed
                                    if q.qkind == "freq"]).collect()}
    for q in mixed:
        want = (cnt_only if q.qkind == "count" else frq_only)[q.qid]
        assert fused[q.qid] == want, q.qid


def test_fingerprint_multiplicity_sensitive(spark, events):
    """Two inputs with the same row count / ts range but different
    duplicate multiplicity must fingerprint differently (XOR of per-row
    hashes cancels pairwise; the sum-based fingerprint must not)."""
    base = events.limit(4).cache()
    rows = base.collect()
    assert len(rows) == 4
    a = spark.createDataFrame([rows[0], rows[0], rows[1], rows[2], rows[3]],
                              base.schema)
    b = spark.createDataFrame([rows[0], rows[1], rows[1], rows[2], rows[3]],
                              base.schema)
    fa = SketchStore.fingerprint_events(a)
    fb = SketchStore.fingerprint_events(b)
    assert fa["n_events"] == fb["n_events"]
    assert fa["sum_hash"] != fb["sum_hash"]


def test_cm_batch_path_rejects_malformed_specs(spark, events):
    """A CM store enforces the scalar kernel's guards on both public
    surfaces: item ranges and window t0 fail loudly, while a degenerate
    item_end == item is a point frequency."""
    cfg = SketchConfig.realistic(n=N, eps=0.1, delta=0.05,
                                 item_domain=ITEM_DOMAIN)
    eng = SpatialSketchEngine(SketchStore.build(spark, events, cfg, "cm",
                                                MIN_LEVEL))
    r = [(0, 0, 31, 31)]
    point = eng.query_values([QuerySpec(0, r, "freq", item=7)])
    assert eng.query_values(
        [QuerySpec(0, r, "freq", item=7, item_end=7)]) == point
    bad = QuerySpec(0, r, "freq", item=7, item_end=9)
    msg = "CM answers point frequencies"
    # the guard runs in the estimator task: both surfaces re-raise the
    # task's ValueError on the driver
    with pytest.raises(PythonException, match=f"ValueError: {msg}"):
        eng.query_values([bad])
    with pytest.raises(PythonException, match=f"ValueError: {msg}"):
        eng.query([bad]).collect()
    # a t0 on freq is refused on the driver, before any job
    for surface in (eng.query_values, eng.query):
        with pytest.raises(ValueError, match="only window and"):
            surface([QuerySpec(0, r, "freq", item=7, t0=5)])


def _store_rows(st):
    return sorted(
        (int(r["grid_key"]), int(r["cell"]), int(r["n_events"]),
         int(r["val_sum"]), bytes(r["payload"]))
        for r in st.df.collect())


MONOID_KINDS = ["exact", "cm", "fm", "bf", "dcm"]


@pytest.mark.parametrize("kind, on_disk", (
    [pytest.param(k, False, id=k) for k in MONOID_KINDS]
    + [pytest.param(k, True, id=f"{k}-path") for k in MONOID_KINDS]))
def test_merge_events_equals_full_build(spark, events, tmp_path, kind,
                                        on_disk):
    """build(A).merge_events(B) == build(A ∪ B) bit-for-bit for every
    kernel whose merge is a true monoid — the incremental-batch-update
    contract (VERDICT r2 item 3). ECM and Elastic are covered by
    test_merge_events_lossy_kinds: their merges are deterministic but
    intentionally lossy (ECM_merge arrival reconstruction / Ostracism
    rebuild), so bit-equality with a full build is not their contract —
    same as the reference's ECM_merge mode. Answers do not depend on
    layout: a path-backed store (base + delta dir, merged on read),
    loaded again, equals the full build and its own compact()."""
    if kind == "exact":
        cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    else:
        cfg = SketchConfig.realistic(n=N, eps=0.1, delta=0.05,
                                     item_domain=ITEM_DOMAIN)
    a = events.where(F.col("ts") % 2 == 0)
    b = events.where(F.col("ts") % 2 == 1)
    full = SketchStore.build(spark, events, cfg, kind, 2)
    p = str(tmp_path / "store") if on_disk else None
    inc = SketchStore.build(spark, a, cfg, kind, 2, path=p).merge_events(b)
    assert _store_rows(full) == _store_rows(inc)
    assert (inc.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(events))
    if on_disk:
        loaded = SketchStore.load(spark, p, cfg, kind)
        assert len(loaded.manifest["deltas"]) == 1
        assert _store_rows(loaded) == _store_rows(full)
        assert _store_rows(loaded.compact()) == _store_rows(full)


@pytest.mark.parametrize("kind", ["ecm", "elastic"])
def test_merge_events_lossy_kinds(spark, events, kind):
    """ECM / Elastic merges are deterministic but lossy: merge_events
    must be reproducible, keep the exact n_events / val_sum bookkeeping
    of the full build, and stay inside the kernel's estimate envelope."""
    cfg = SketchConfig.realistic(n=N, eps=0.1, delta=0.05,
                                 item_domain=ITEM_DOMAIN)
    a = events.where(F.col("ts") % 2 == 0)
    b = events.where(F.col("ts") % 2 == 1)
    base = SketchStore.build(spark, a, cfg, kind, 2)
    inc1 = base.merge_events(b)
    inc2 = base.merge_events(b)
    assert _store_rows(inc1) == _store_rows(inc2)   # deterministic
    full = SketchStore.build(spark, events, cfg, kind, 2)
    counts = lambda st: sorted(
        (int(r["grid_key"]), int(r["cell"]), int(r["n_events"]),
         int(r["val_sum"])) for r in st.df.collect())
    assert counts(full) == counts(inc1)             # bookkeeping exact
    assert (inc1.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(events))
    # block-aligned at min_level=2 so coverage is integral (fractional
    # coverage truncates and may legitimately undercount)
    rng = [(8, 8, 55, 39)]
    if kind == "elastic":
        # never-underestimate survives the merge
        eng = SpatialSketchEngine(inc1)
        for item in (3, 7, 12):
            est = eng.query([QuerySpec(0, rng, "freq", item=item)]) \
                     .collect()[0]["est"]
            assert est >= truth_count(events, rng, item=item)
    else:
        # merged-window estimate within the ECM envelope of a full build
        q = [QuerySpec(0, rng, "window", item=3, t0=500)]
        ef = SpatialSketchEngine(full).query(q).collect()[0]["est"]
        ei = SpatialSketchEngine(inc1).query(q).collect()[0]["est"]
        assert 0 <= ei <= max(4 * ef, 8)
        assert ei >= ef / 4


def test_merge_events_snapshot_resume(spark, events, tmp_path):
    """A merged snapshot is served by build_or_load over the UNION
    input without a rebuild (Iceberg-snapshot semantics: new data dir,
    manifest repointed, parent dir kept), and queries over it match the
    full build."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 2 == 0)
    b = events.where(F.col("ts") % 2 == 1)
    s1 = SketchStore.build_or_load(spark, a, cfg, "exact", 2, p)
    s2 = s1.merge_events(b)
    assert s2.manifest["data_dir"] == "sketch"        # base kept
    (delta,) = s2.manifest["deltas"]
    assert (tmp_path / "store" / delta).exists()
    s3 = SketchStore.build_or_load(spark, events, cfg, "exact", 2, p)
    # served, not rebuilt: the merge snapshot seq survives
    assert s3.manifest.get("snapshot_seq") == 1
    eng = SpatialSketchEngine(s3)
    est = eng.query([QuerySpec(0, [(8, 8, 55, 39)], "count")]) \
             .collect()[0]["est"]
    assert est == truth_count(events, [(8, 8, 55, 39)])


def test_snapshot_time_travel(spark, events, tmp_path):
    """Iceberg-style time travel: every commit (initial build + each
    merge_events) leaves an immutable manifest_s<seq>.json + readable
    data dir; snapshots() lists the history and load(at_seq=k) opens
    the store exactly as of commit k — bit-identical to a fresh build
    over that commit's input prefix. Committing from a time-travelled
    (stale) snapshot is rejected."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 3 == 0)
    b = events.where(F.col("ts") % 3 == 1)
    c = events.where(F.col("ts") % 3 == 2)
    s0 = SketchStore.build(spark, a, cfg, "exact", 2, path=p)
    s1 = s0.merge_events(b)
    s1.merge_events(c)

    hist = SketchStore.snapshots(p)
    assert [m["snapshot_seq"] for m in hist] == [0, 1, 2]
    # one base; each commit lists its parent's deltas plus its own
    assert [m["data_dir"] for m in hist] == ["sketch"] * 3
    assert [len(m["deltas"]) for m in hist] == [0, 1, 2]
    assert hist[2]["deltas"][:1] == hist[1]["deltas"]
    # history entries are cumulative: fingerprints chain to the prefixes
    assert hist[0]["input_fingerprint"] == SketchStore.fingerprint_events(a)
    assert (hist[2]["input_fingerprint"]
            == SketchStore.fingerprint_events(events))

    for seq, prefix in [(0, a), (1, a.unionByName(b)), (2, events)]:
        tv = SketchStore.load(spark, p, cfg, "exact", at_seq=seq)
        assert tv.manifest["snapshot_seq"] == seq
        assert _store_rows(tv) == _store_rows(
            SketchStore.build(spark, prefix, cfg, "exact", 2))
        # a time-travelled view answers queries as of that commit
        est = SpatialSketchEngine(tv).query(
            [QuerySpec(0, [(8, 8, 55, 39)], "count")]).collect()[0]["est"]
        assert est == truth_count(prefix, [(8, 8, 55, 39)])

    with pytest.raises(ValueError, match="no snapshot seq 9"):
        SketchStore.load(spark, p, cfg, "exact", at_seq=9)
    stale = SketchStore.load(spark, p, cfg, "exact", at_seq=0)
    with pytest.raises(ValueError, match="concurrent snapshot commit"):
        stale.merge_events(c)

    # expire-snapshots maintenance: old commits dropped, current kept;
    # after a compaction no retained snapshot lists the old base or the
    # deltas, so their dirs go too
    cur = SketchStore.load(spark, p, cfg, "exact").compact()
    assert cur.manifest["snapshot_seq"] == 3
    assert cur.expire_snapshots(keep_last=1) == [0, 1, 2]
    assert [m["snapshot_seq"] for m in SketchStore.snapshots(p)] == [3]
    assert not (tmp_path / "store" / "sketch").exists()
    assert not any((tmp_path / "store" / d).exists()
                   for d in hist[2]["deltas"])
    with pytest.raises(ValueError, match=r"committed seqs: \[3\]"):
        SketchStore.load(spark, p, cfg, "exact", at_seq=0)
    est = SpatialSketchEngine(
        SketchStore.load(spark, p, cfg, "exact")).query(
        [QuerySpec(0, [(8, 8, 55, 39)], "count")]).collect()[0]["est"]
    assert est == truth_count(events, [(8, 8, 55, 39)])
    assert cur.expire_snapshots(keep_last=1) == []    # idempotent
    with pytest.raises(ValueError, match="keep_last"):
        cur.expire_snapshots(keep_last=0)


def test_snapshot_rollback(spark, events, tmp_path):
    """Iceberg rollback: committing an old snapshot as current — new
    seq pointing at the old data dir, fingerprint/lineage restored so
    build_or_load over the ORIGINAL input serves it; history stays
    time-travelable; a later merge layers on the restored state; and a
    shared data dir survives expiry of the rolled-over commits."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 2 == 0)
    b = events.where(F.col("ts") % 2 == 1)
    s0 = SketchStore.build(spark, a, cfg, "exact", 2, path=p)
    s1 = s0.merge_events(b)
    with pytest.raises(ValueError, match="concurrent snapshot commit"):
        s0.rollback(0)                       # stale base rejected
    rb = s1.rollback(0)
    assert rb.manifest["snapshot_seq"] == 2
    assert rb.manifest["data_dir"] == "sketch"
    assert rb.manifest["rolled_back_to"] == 0
    assert (rb.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(a))
    # current == snapshot 0 content; build_or_load(a) serves, not rebuilds
    served = SketchStore.build_or_load(spark, a, cfg, "exact", 2, p)
    assert served.manifest["snapshot_seq"] == 2
    assert _store_rows(served) == _store_rows(
        SketchStore.build(spark, a, cfg, "exact", 2))
    # rolled-over commit still time-travelable; merge layers on restore
    assert _store_rows(SketchStore.load(spark, p, cfg, "exact",
                                        at_seq=1)) == _store_rows(s1)
    s3 = rb.merge_events(b)
    assert _store_rows(s3) == _store_rows(s1)
    # keep_last=2 retains the rollback commit (seq 2) and the merge on
    # it (seq 3), which share the original 'sketch' base: it survives,
    # while seq 1's delta, listed by no retained commit, is removed
    cur = SketchStore.load(spark, p, cfg, "exact")
    assert cur.expire_snapshots(keep_last=2) == [0, 1]
    assert (tmp_path / "store" / "sketch").exists()   # shared dir kept
    assert not (tmp_path / "store" / s1.manifest["deltas"][0]).exists()
    assert _store_rows(SketchStore.load(spark, p, cfg, "exact",
                                        at_seq=2)) == _store_rows(rb)


@pytest.mark.parametrize("on_disk", [False, True], ids=["memory", "path"])
def test_each_snapshot_serves_its_own_index(spark, events, tmp_path,
                                            on_disk):
    """Every store object is one snapshot with its own probe index: a
    store queried once never packs one, nor does a batch with a merge
    kind; a store's second additive batch is answered from its own
    index, equal to its first (SQL) batch; the parent of merge_events
    still answers its old snapshot; and on a path-backed store compact()
    and rollback() start fresh indexes."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    a = events.where(F.col("ts") % 3 != 0)
    b = events.where(F.col("ts") % 3 == 0)
    qs = [QuerySpec(0, [(0, 0, 40, 33)], "count"),
          QuerySpec(1, [(0, 0, 40, 33)], "freq", item=3),
          QuerySpec(2, [(5, 9, 63, 50), (0, 0, 4, 4)], "count")]
    merge = [QuerySpec(3, [(0, 0, 63, 63)], "distinct")]

    def answers(store, want):
        eng = SpatialSketchEngine(store)
        first = eng.query_values(qs)
        assert eng.query_values(merge)[3] > 0
        assert store._index is None          # one additive batch: no pack
        assert eng.query_values(qs) == first == want
        assert store._index is not None
        return store._index

    want_a = SpatialSketchEngine(
        SketchStore.build(spark, a, cfg, "exact", 1)).query_values(qs)
    want_ab = SpatialSketchEngine(
        SketchStore.build(spark, events, cfg, "exact", 1)).query_values(qs)
    assert want_a != want_ab
    p = str(tmp_path / "store") if on_disk else None
    s0 = SketchStore.build(spark, a, cfg, "exact", 1, path=p)
    idx0 = answers(s0, want_a)
    s1 = s0.merge_events(b)
    assert answers(s1, want_ab) is not idx0
    assert SpatialSketchEngine(s0).query_values(qs) == want_a
    assert s0._index is idx0
    if on_disk:
        s2 = s1.compact()
        idx2 = answers(s2, want_ab)
        s3 = s2.rollback(0)
        assert answers(s3, want_a) is not idx2
        assert SpatialSketchEngine(s2).query_values(qs) == want_ab
        assert answers(SketchStore.load(spark, p, cfg, "exact"),
                       want_a) is not s3._index


def _index_table(paths):
    """{key: (val_sum, payload)} of the probe-index blocks in ``paths``,
    read through their files as a task reads them."""
    from spatialsketch_spark.geo.build import _load_block
    got = {}
    for p in paths:
        key, val_sum, lo, hi, data = _load_block(p)
        assert (np.diff(key) > 0).all()
        for k, v, i, j in zip(key.tolist(), val_sum.tolist(), lo.tolist(),
                              hi.tolist()):
            got[k] = (v, data[i:j].tobytes())
    return got


def _table_by_key(store):
    return {r["grid_key"] * N * N + r["cell"]:
            (r["val_sum"], bytes(r["payload"])) for r in store.df.collect()}


def test_probe_index_blocks(spark, events):
    """The probe index holds the table: per block, keys grid_key·N² +
    cell ascending, each with its val_sum and payload bytes. Each block
    is a file under the session's SparkFiles root, and Spark caches only
    the RDD of their paths, not the block bytes. The serving modules
    reach no Spark-internal API (``_jdf``, ``toArrowBatchRdd``) to pack
    it."""
    from pyspark import SparkFiles
    cfg = SketchConfig.realistic(n=N, item_domain=ITEM_DOMAIN)
    store = SketchStore.build(spark, events, cfg, "cm", MIN_LEVEL)
    jsc = spark.sparkContext._jsc.sc()
    cached = {i.id() for i in jsc.getRDDStorageInfo()}
    assert store.serving_index(10 ** 9) is None      # the first batch
    index = store.serving_index(10 ** 9)
    assert index.count() > 0                         # packs the index
    paths = store._index_paths.collect()
    root = os.path.join(SparkFiles.getRootDirectory(), "ssk-index")
    assert paths and all(os.path.dirname(p) == root and os.path.isfile(p)
                         for p in paths)
    assert _index_table(paths) == _table_by_key(store)
    # the pack cached one RDD: the paths, a few bytes each
    new = [i for i in jsc.getRDDStorageInfo() if i.id() not in cached]
    assert [i.id() for i in new] == [store._index_paths.id()]
    assert new[0].memSize() + new[0].diskSize() < 1000 * len(paths)
    assert sum(os.path.getsize(p) for p in paths) > \
        store.manifest["metrics"]["payload_bytes"]
    geo = pathlib.Path(inspect.getsourcefile(SketchStore)).parent
    for f in geo.glob("*.py"):
        src = f.read_text()
        assert "_jdf" not in src and "toArrowBatchRdd" not in src, f


def test_probe_index_large_var_types(spark, events):
    """Under spark.sql.execution.arrow.useLargeVarTypes Spark hands
    Python binary columns with 64-bit offsets: the build, the pack and
    the block reader honour it, and both serving paths answer as
    without it."""
    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    cfg = SketchConfig.realistic(n=N, item_domain=ITEM_DOMAIN)
    qs = [QuerySpec(0, [(0, 0, 40, 33)], "count"),
          QuerySpec(1, [(0, 0, 40, 33)], "freq", item=3),
          QuerySpec(2, [(5, 9, 63, 50), (0, 0, 4, 4)], "freq", item=7)]
    plain = SketchStore.build(spark, events, cfg, "cm", MIN_LEVEL)
    want = SpatialSketchEngine(plain).query_values(qs)
    spark.conf.set(conf, "true")
    try:
        store = SketchStore.build(spark, events, cfg, "cm", MIN_LEVEL)
        assert _store_rows(store) == _store_rows(plain)
        eng = SpatialSketchEngine(store)
        assert eng.query_values(qs) == want              # SQL path
        assert store._index is None
        assert eng.query_values(qs) == want              # index path
        assert store._index is not None
        paths = store._index_paths.collect()
    finally:
        spark.conf.unset(conf)
    assert _index_table(paths) == _table_by_key(plain)


def test_missing_block_file_falls_back_to_sql(spark, events, caplog):
    """A task whose executor lacks its block file (lost executor, a
    locality wait that expired) yields a marker instead of failing: the
    batch is answered on the SQL join with the same answers and no
    failed task, the engine logs one WARNING naming the file, the store
    drops its index, and the next additive batch packs a fresh one."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    store = SketchStore.build(spark, events, cfg, "exact", 1)
    eng = SpatialSketchEngine(store)
    qs = [QuerySpec(0, [(0, 0, 40, 33)], "count"),
          QuerySpec(1, [(0, 0, 40, 33)], "freq", item=3),
          QuerySpec(2, [(5, 9, 63, 50), (0, 0, 4, 4)], "count")]
    want = eng.query_values(qs)                          # SQL path
    assert eng.query_values(qs) == want                  # packs the index
    for i, surface in enumerate((
            eng.query_values,
            lambda q: {r["qid"]: r["est"] for r in eng.query(q).collect()})):
        old = store._index_paths.collect()
        for p in old:
            os.remove(p)
        group = f"missing-block-fallback-{i}"
        sc.setJobGroup(group, "a batch whose block files are gone")
        caplog.clear()
        try:
            with caplog.at_level(logging.WARNING):
                assert surface(qs) == want               # falls back
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert store._index is None
        jobs = tracker.getJobIdsForGroup(group)
        stages = [tracker.getStageInfo(st) for j in jobs
                  for st in tracker.getJobInfo(j).stageIds]
        assert jobs and sum(st.numFailedTasks for st in stages
                            if st is not None) == 0
        warned = [r for r in caplog.records
                  if r.name == "spatialsketch_spark.geo.query"]
        assert [r.levelno for r in warned] == [logging.WARNING]
        msg = warned[0].getMessage()
        assert any(p in msg for p in old) and "SQL join" in msg
        assert eng.query_values(qs) == want              # packs anew
        new = store._index_paths.collect()
        assert all(os.path.isfile(p) for p in new)
        assert not set(new) & set(old)


def test_index_keys_past_int64_stay_on_sql_path():
    """Probe keys grid_key·n² + cell fit an int64 up to n = 2^26; a
    larger grid's store never packs an index."""
    from types import SimpleNamespace
    from spatialsketch_spark.geo.build import _index_keys_fit
    assert _index_keys_fit(SketchConfig(n=2 ** 26))
    assert not _index_keys_fit(SketchConfig(n=2 ** 27))
    store = SketchStore(None, SimpleNamespace(),
                        SketchConfig(n=2 ** 27), "cm", 0,
                        {"metrics": {"payload_bytes": 1}})
    assert store.serving_index(10 ** 9) is None
    assert store.serving_index(10 ** 9) is None


def test_combine_fingerprints_empty_side():
    """Merging an empty batch (None ts/hash components) must be the
    identity in either argument order, not a TypeError."""
    fa = {"n_events": 5, "min_ts": 1, "max_ts": 9, "sum_hash": 123}
    fb = {"n_events": 0, "min_ts": None, "max_ts": None, "sum_hash": None}
    assert SketchStore._combine_fingerprints(fa, fb) == fa
    assert SketchStore._combine_fingerprints(fb, fa) == fa


def test_merge_events_concurrent_commit_rejected(spark, events, tmp_path):
    """A second merge from the same stale base must not clobber the
    first snapshot's data dir — optimistic concurrency on the on-disk
    manifest seq."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 3 == 0)
    b = events.where(F.col("ts") % 3 == 1)
    c = events.where(F.col("ts") % 3 == 2)
    s = SketchStore.build_or_load(spark, a, cfg, "exact", 2, p)
    s1 = s.merge_events(b)
    with pytest.raises(ValueError, match="concurrent snapshot commit"):
        s.merge_events(c)
    s2 = s1.merge_events(c)     # fresh base: fine
    assert s2.manifest["snapshot_seq"] == 2
    assert s2.manifest["deltas"][:1] == s1.manifest["deltas"]
    # the refused writer left no data dir behind
    assert sorted(d for d in os.listdir(p) if d.startswith("delta_")) \
        == sorted(s2.manifest["deltas"])
    assert (s2.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(events))


def test_torn_pointer_write_keeps_previous_snapshot(spark, events, tmp_path,
                                                   monkeypatch):
    """A current-pointer write that fails partway through a merge_events
    commit leaves the previous snapshot current: it still loads with its
    rows intact, and a retry from it commits the next seq."""
    import json
    import os
    import re

    import spatialsketch_spark.geo.build as build_mod

    class TornJson:
        """json whose dump dies halfway through any file but a
        per-snapshot manifest_s<seq>.json."""
        load = staticmethod(json.load)

        @staticmethod
        def dump(obj, f, **kw):
            text = json.dumps(obj, **kw)
            if re.search(r"manifest_s\d+\.json", str(f.name)):
                f.write(text)
                return
            f.write(text[:len(text) // 2])
            f.flush()
            raise OSError("disk full")

    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 2 == 0)
    b = events.where(F.col("ts") % 2 == 1)
    s0 = SketchStore.build(spark, a, cfg, "exact", 2, p)
    rows0 = _store_rows(s0)
    monkeypatch.setattr(build_mod, "json", TornJson)
    with pytest.raises(OSError, match="disk full"):
        s0.merge_events(b)
    monkeypatch.undo()
    assert not [f for f in os.listdir(p) if f.endswith(".tmp")]
    cur = SketchStore.load(spark, p, cfg, "exact")
    assert cur.manifest["snapshot_seq"] == 0
    assert _store_rows(cur) == rows0
    s1 = cur.merge_events(b)
    assert SketchStore.load(spark, p, cfg, "exact") \
        .manifest["snapshot_seq"] == 1
    assert (s1.manifest["input_fingerprint"]
            == SketchStore.fingerprint_events(events))


def test_racing_appends_exactly_one_commits(spark, events, tmp_path,
                                            monkeypatch):
    """Two merge_events from the same current parent, the second passing
    the pointer check before the first commits: exactly one commits, the
    loser raises without overwriting anything, and the winner's rows
    load intact."""
    import spatialsketch_spark.geo.build as build_mod

    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 3 == 0)
    b = events.where(F.col("ts") % 3 == 1)
    c = events.where(F.col("ts") % 3 == 2)
    s0 = SketchStore.build(spark, a, cfg, "exact", 2, p)
    winner = []

    class RacingJson:
        """json whose first read of the current pointer lets the other
        writer commit right after the read."""
        dump = staticmethod(json.dump)

        @staticmethod
        def load(f):
            out = json.load(f)
            if not winner and str(f.name).endswith("/manifest.json"):
                winner.append(None)
                winner[0] = s0.merge_events(b)
            return out

    monkeypatch.setattr(build_mod, "json", RacingJson)
    with pytest.raises(ValueError, match="concurrent snapshot commit"):
        s0.merge_events(c)
    monkeypatch.undo()
    assert [m["snapshot_seq"] for m in SketchStore.snapshots(p)] == [0, 1]
    cur = SketchStore.load(spark, p, cfg, "exact")
    assert cur.manifest == winner[0].manifest
    assert _store_rows(cur) == _store_rows(
        SketchStore.build(spark, a.unionByName(b), cfg, "exact", 2))
    assert sorted(d for d in os.listdir(p) if d.startswith("delta_")) \
        == cur.manifest["deltas"]


def test_append_writes_only_its_delta(spark, events, tmp_path):
    """A path-backed append leaves every file of the base untouched and
    writes one dir holding the delta's cells only; sketch_cells stays
    the base's until compact(), merged_events adds up."""
    from spatialsketch_spark.geo.build import build_sketch_df

    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = tmp_path / "store"
    a = events.where(F.col("ts") % 4 != 0)
    b = events.where(F.col("ts") % 4 == 0)
    s0 = SketchStore.build(spark, a, cfg, "exact", 2, str(p))

    def files():
        return {str(f.relative_to(p)): f.stat().st_mtime_ns
                for f in (p / "sketch").rglob("*")}

    before = files()
    s1 = s0.merge_events(b)
    assert files() == before
    (delta,) = s1.manifest["deltas"]
    assert spark.read.parquet(str(p / delta)).count() \
        == build_sketch_df(b, cfg, "exact", 2).count()
    m0, m1 = s0.manifest["metrics"], s1.manifest["metrics"]
    assert m1["sketch_cells"] == m0["sketch_cells"]
    full = SketchStore.build(spark, events, cfg, "exact", 2)
    assert m1["merged_events"] == full.manifest["metrics"]["merged_events"]
    assert (s1.compact().manifest["metrics"]["sketch_cells"]
            == full.manifest["metrics"]["sketch_cells"])


def test_rebuild_replaces_history(spark, events, tmp_path):
    """A build over a path that holds a history starts a new one: the
    old commits and their dirs go, and appends commit from seq 0 again."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    p = str(tmp_path / "store")
    a = events.where(F.col("ts") % 2 == 0)
    b = events.where(F.col("ts") % 2 == 1)
    s1 = SketchStore.build(spark, a, cfg, "exact", 2, p).merge_events(b)
    r0 = SketchStore.build_or_load(spark, b, cfg, "exact", 2, p)
    assert [m["snapshot_seq"] for m in SketchStore.snapshots(p)] == [0]
    assert not os.path.exists(f"{p}/{s1.manifest['deltas'][0]}")
    r1 = r0.merge_events(a)
    assert r1.manifest["snapshot_seq"] == 1
    assert _store_rows(r1) == _store_rows(
        SketchStore.build(spark, events, cfg, "exact", 2))


def test_combine_fingerprints_legacy_manifest_rejected():
    """A pre-sum_hash manifest (xor_hash era) is not union-combinable —
    merge must fail with the rebuild remedy, not a bare KeyError."""
    new = {"n_events": 5, "min_ts": 1, "max_ts": 9, "sum_hash": 123}
    old = {"n_events": 2, "min_ts": 0, "max_ts": 4, "xor_hash": 77}
    for a, b in ((old, new), (new, old)):
        with pytest.raises(ValueError, match="predates sum_hash"):
            SketchStore._combine_fingerprints(a, b)


def test_cover_dedup_all_classes_share_rects(spark, events, exact_store):
    """The pid-keyed cover dedups identical rect-sets across ALL query
    classes (count / freq / distinct / member / l2 / window in ONE
    batch over the same region): per-qid answers must equal issuing
    each query alone, and the broadcast cover must carry one pid, not
    six qids."""
    eng = SpatialSketchEngine(exact_store)
    r = [(0, 0, 31, 31)]
    batch = [QuerySpec(0, r, "count"),
             QuerySpec(1, r, "freq", item=3),
             QuerySpec(2, r, "distinct"),
             QuerySpec(3, r, "member", item=3),
             QuerySpec(4, r, "l2"),
             QuerySpec(5, r, "window", item=3, t0=100)]
    got = {row["qid"]: row["est"] for row in eng.query(batch).collect()}
    for q in batch:
        alone = eng.query([q]).collect()[0]["est"]
        assert got[q.qid] == alone, (q.qid, q.qkind)
    # the cover relation itself is pid-deduped: one rect-set -> one pid
    cov = eng._cover_df([(0, r)])
    batch_cov = eng._cover_df([(pid, rs) for pid, rs in [(0, r)]])
    assert cov.count() == batch_cov.count()
    # six queries over one rect-set expand exactly the single-set cover
    groups = {}
    pid_ranges = []
    for q in batch:
        key = tuple(map(tuple, q.ranges))
        if key not in groups:
            groups[key] = len(pid_ranges)
            pid_ranges.append((groups[key], q.ranges))
    assert len(pid_ranges) == 1


def test_merge_kinds_dedup_cells_shared_by_rects(spark, events):
    """On a min_level > 0 store, two disjoint unaligned rects inside one
    floor-level block both cover that block's cell. Merge kinds ignore
    coverage, so the cell's state must enter the merge ONCE: the
    two-rect query answers exactly like one rect over the whole block
    (a duplicated state would multiply an exact l2 by 4)."""
    cfg = SketchConfig.exact_mode(item_domain=ITEM_DOMAIN, n=N)
    eng = SpatialSketchEngine(SketchStore.build(spark, events, cfg,
                                                "exact", 3))
    top = (events.groupBy((F.col("x") / 8).cast("int").alias("bx"),
                          (F.col("y") / 8).cast("int").alias("by"),
                          "item")
           .count().orderBy(F.desc("count"), "bx", "by", "item").first())
    x0, y0, item = top["bx"] * 8, top["by"] * 8, int(top["item"])
    split = [(x0, y0, x0 + 2, y0 + 7), (x0 + 4, y0, x0 + 7, y0 + 7)]
    block = [(x0, y0, x0 + 7, y0 + 7)]
    for kind in ("l2", "window_merge", "distinct"):
        t0 = 0 if kind == "window_merge" else -1
        got = eng.query_values([QuerySpec(0, split, kind, item=item, t0=t0),
                                QuerySpec(1, block, kind, item=item, t0=t0)])
        assert got[0] == got[1] > 0, (kind, got)


def test_trajectory_stats_handcrafted(spark):
    """Per-entity path arithmetic vs hand computation: L1 path length
    over ts order, bbox, net displacement; a single-point entity gets
    path 0 (coalesced NULL sum)."""
    from spatialsketch_spark.geo.trajectory import trajectory_stats
    rows = [
        (1, 1, 0, 0, 1), (2, 1, 3, 4, 1), (3, 1, 3, 1, 1),
        (5, 2, 7, 7, 1),
    ]
    ev = spark.createDataFrame(
        rows, "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT")
    out = {r["item"]: r for r in trajectory_stats(ev).collect()}
    t1 = out[1]
    assert (t1["n_points"], t1["path_l1"]) == (3, (3 + 4) + (0 + 3))
    assert (t1["x_min"], t1["x_max"], t1["y_min"], t1["y_max"]) == (0, 3, 0, 4)
    assert t1["net_l1"] == abs(3 - 0) + abs(1 - 0)
    t2 = out[2]
    assert (t2["n_points"], t2["path_l1"], t2["net_l1"]) == (1, 0, 0)


def test_multires_rollup_cascade_equals_flat(spark):
    """The hierarchical cascade (each level from the previous level's
    output) must equal flat per-level recomputation from the raw
    points, and every level must conserve total mass."""
    import numpy as np
    from spatialsketch_spark.geo.trajectory import multires_rollup
    rng = np.random.default_rng(11)
    pts = rng.integers(0, 4096, size=(300, 2))
    vals = rng.integers(1, 5, size=300)
    rows = [(int(i), 0, int(x), int(y), int(v))
            for i, ((x, y), v) in enumerate(zip(pts, vals))]
    ev = spark.createDataFrame(
        rows, "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT")
    shifts = (4, 6, 8, 10)
    got = {}
    for r in multires_rollup(ev, shifts).collect():
        got.setdefault(r["shift"], {})[(r["cx"], r["cy"])] = r["n"]
    total = int(vals.sum())
    for s in shifts:
        flat = {}
        for (x, y), v in zip(pts, vals):
            key = (int(x) >> s, int(y) >> s)
            flat[key] = flat.get(key, 0) + int(v)
        assert got[s] == flat
        assert sum(got[s].values()) == total


@pytest.mark.parametrize("bad", [{"x": N}, {"y": -1}])
def test_build_rejects_out_of_grid_events(spark, bad):
    """x or y outside [0, N) has no cell: the partial builder raises
    instead of aliasing the event into a neighbouring cell key."""
    import pyarrow as pa
    from spatialsketch_spark.geo.build import _partial_builder
    cfg = SketchConfig.realistic(n=N, item_domain=ITEM_DOMAIN)
    row = {"ts": 1, "item": 3, "x": 5, "y": 7, "value": 1, **bad}
    batch = pa.RecordBatch.from_pydict(
        {k: pa.array([v], pa.int64()) for k, v in row.items()})
    name = next(iter(bad))
    with pytest.raises(ValueError, match=f"event {name} outside"):
        list(_partial_builder(cfg, "cm", MIN_LEVEL)(iter([batch])))
    df = spark.createDataFrame([tuple(row.values())],
                               "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, "
                               "value BIGINT")
    with pytest.raises(Exception, match=f"event {name} outside"):
        SketchStore.build(spark, df, cfg, "cm", MIN_LEVEL)


def test_range_freq_without_item_end_is_point_range(spark):
    """A range_freq query with no item_end asks for the one-item range
    [item, item] — on a dyadic-CM store as on an exact-mode store."""
    ev = spark.createDataFrame(
        [(0, 5, 3, 3, 1), (1, 5, 4, 9, 2), (2, 6, 3, 3, 1)],
        "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT")
    for kind, cfg in (
            ("dcm", SketchConfig.realistic(n=16, item_domain=64)),
            ("exact", SketchConfig.exact_mode(item_domain=64, n=16))):
        eng = SpatialSketchEngine(SketchStore.build(spark, ev, cfg, kind, 0))
        qs = [QuerySpec(0, [(0, 0, 15, 15)], "range_freq", item=5),
              QuerySpec(1, [(0, 0, 15, 15)], "range_freq", item=5,
                        item_end=5)]
        assert eng.query_values(qs) == {0: 3, 1: 3}, kind
