"""Temporal operators: as-of join edge cases, hopping rollup."""

from pyspark.sql import functions as F

from spatialsketch_spark.pipeline.temporal import (
    asof_join, range_join, time_rollup,
)


def test_asof_edges(spark):
    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "a", 20), (4, "b", 7)],
        "id LONG, item STRING, ts LONG")
    right = spark.createDataFrame(
        [("a", 5, 100), ("a", 20, 200), ("b", 8, 300)],
        "item STRING, ts LONG, rts LONG")
    got = {r["id"]: r["rts"] for r in
           asof_join(left, right, key="item", ts="ts").collect()}
    assert got[1] == 100        # latest <= 10 is ts=5
    assert got[2] == 100        # equality matches (>= semantics)
    assert got[3] == 200        # equality at 20
    assert got[4] is None       # no right row at or before ts=7 for b


def test_hopping_rollup(spark):
    ev = spark.createDataFrame([(t, 1) for t in range(0, 100)],
                               "ts LONG, value LONG")
    out = {r["w_start"]: r["cnt"] for r in
           time_rollup(ev, width=20, hop=10).collect()}
    # interior windows hold exactly 20 rows
    assert out[10] == 20 and out[40] == 20
    # every row appears in exactly width/hop = 2 windows
    assert sum(out.values()) == 2 * 100 - 10  # first 10 rows only in w=0


def _hop_truth(ts_values, width, hop):
    """Brute-force hopping rollup: every aligned start s = k*hop with
    s <= t < s + width."""
    out = {}
    for t in ts_values:
        s = t - t % hop
        while s >= 0 and s + width > t:
            out[s] = out.get(s, 0) + 1
            s -= hop
    return out


def test_hopping_rollup_nondivisible_width(spark):
    # width % hop != 0: floor(width/hop) would drop the earliest window
    ev = spark.createDataFrame([(t, 1) for t in range(0, 60)],
                               "ts LONG, value LONG")
    out = {r["w_start"]: r["cnt"] for r in
           time_rollup(ev, width=25, hop=10).collect()}
    assert out == _hop_truth(range(0, 60), 25, 10)


def test_hopping_rollup_hop_gt_width(spark):
    # hop > width: rows between windows belong to none; must not throw
    ev = spark.createDataFrame([(t, 1) for t in range(0, 50)],
                               "ts LONG, value LONG")
    out = {r["w_start"]: r["cnt"] for r in
           time_rollup(ev, width=7, hop=20).collect()}
    assert out == _hop_truth(range(0, 50), 7, 20)


def test_range_join_inclusive_bounds(spark):
    ev = spark.createDataFrame([(5, 1), (10, 1), (11, 1)],
                               "ts LONG, value LONG")
    br = spark.createDataFrame([(0, 5, 10)], "bid LONG, lo LONG, hi LONG")
    assert range_join(ev, br, col="ts").count() == 2  # 5 and 10 inclusive


def test_range_join_bucketed_equals_broadcast(spark):
    """The shuffle-on-block interval join must equal the broadcast
    BETWEEN join for arbitrary brackets (overlapping, touching block
    boundaries, width < block, width >> block)."""
    import numpy as np
    from spatialsketch_spark.pipeline.temporal import range_join_bucketed
    rng = np.random.default_rng(13)
    ev = spark.createDataFrame(
        [(int(t), 1) for t in rng.integers(0, 5000, 800)],
        "ts LONG, value LONG")
    rows = []
    for b in range(30):
        lo = int(rng.integers(0, 4800))
        hi = lo + int(rng.integers(0, 900))
        rows.append((b, lo, hi))
    rows += [(90, 1024, 1024), (91, 0, 5000), (92, 1023, 1025)]
    br = spark.createDataFrame(rows, "bid LONG, lo LONG, hi LONG")
    want = sorted((r["bid"], r["ts"]) for r in
                  range_join(ev, br).select("bid", "ts").collect())
    for block in (1, 7, 256, 10000):
        got = sorted((r["bid"], r["ts"]) for r in
                     range_join_bucketed(ev, br, block=block)
                     .select("bid", "ts").collect())
        assert got == want, block


def test_asof_bucketed_equals_plain(spark):
    """Epoch-bucketed as-of must equal the plain windowed as-of for
    arbitrary epoch widths — including right-only epochs (value carried
    across empty gaps), left-only epochs, equal-ts ties, and a hot key
    holding most of the traffic."""
    import numpy as np
    from spatialsketch_spark.pipeline.temporal import (
        asof_join, asof_join_bucketed)
    rng = np.random.default_rng(17)
    n = 1200
    # hot key 0 gets ~70% of rows
    keys = np.where(rng.random(n) < 0.7, 0, rng.integers(1, 6, n))
    lts = rng.integers(0, 10000, n)
    left = spark.createDataFrame(
        [(int(i), f"k{k}", int(t)) for i, (k, t) in
         enumerate(zip(keys, lts))],
        "id LONG, item STRING, ts LONG")
    rkeys = np.where(rng.random(300) < 0.7, 0, rng.integers(1, 6, 300))
    rts_ = rng.integers(0, 10000, 300)
    right = spark.createDataFrame(
        [(f"k{k}", int(t), int(t) * 10) for k, t in zip(rkeys, rts_)],
        "item STRING, ts LONG, rts LONG")
    want = sorted((r["id"], r["rts"]) for r in
                  asof_join(left, right).collect())
    for width in (1, 37, 1000, 100000):
        got = sorted((r["id"], r["rts"]) for r in
                     asof_join_bucketed(left, right, width).collect())
        assert got == want, width


def test_asof_bucketed_null_right_values(spark):
    """last(ignorenulls) semantics: a NULL-valued later right row must
    not shadow an earlier non-null value — in either pass."""
    from spatialsketch_spark.pipeline.temporal import (
        asof_join, asof_join_bucketed)
    left = spark.createDataFrame(
        [(0, "a", 25), (1, "a", 35), (2, "b", 25)],
        "id LONG, item STRING, ts LONG")
    right = spark.createDataFrame(
        [("a", 10, 100), ("a", 20, None), ("b", 5, None)],
        "item STRING, ts LONG, rts LONG")
    want = sorted((r["id"], r["rts"]) for r in
                  asof_join(left, right).collect())
    for width in (7, 15, 1000):
        got = sorted((r["id"], r["rts"]) for r in
                     asof_join_bucketed(left, right, width).collect())
        assert got == want, (width, got, want)


def test_session_rollup_boundary_semantics(spark):
    """Spark session_window has an INCLUSIVE gap boundary: a gap of
    exactly `gap` seconds still MERGES (only a strictly larger gap
    breaks); s_end = last event ts + gap. Handcrafted fixture pinning
    merge, exact-boundary merge, break, and a singleton session —
    the oracle SQL's `<=` break condition mirrors this exactly."""
    from spatialsketch_spark.pipeline.temporal import session_rollup
    rows = [(t, 1, 0, 0, v) for t, v in
            [(0, 2), (100, 3), (273, 1), (447, 5), (1000, 7)]] \
        + [(50, 2, 0, 0, 1)]
    df = spark.createDataFrame(
        rows, "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT")
    got = sorted(tuple(r) for r in session_rollup(df, gap=173).collect())
    assert got == [
        (1, 0, 446, 3, 6),        # 0,100 merge; 273 merges (gap == 173)
        (1, 447, 620, 1, 5),      # 447 breaks (gap 174 > 173)
        (1, 1000, 1173, 1, 7),    # singleton
        (2, 50, 223, 1, 1),
    ]


def test_overlap_join_exactly_once_across_blocks(spark):
    """Pairs whose overlap SPANS multiple blocks must emit exactly
    once (the start-block assignment rule), inclusive endpoint
    touching counts as overlap, and the blocked plan equals the naive
    cross-join-with-predicate answer on a fixture designed to straddle
    block boundaries every way (contained / staggered / touching /
    disjoint / multi-block-wide)."""
    from pyspark.sql import functions as F

    from spatialsketch_spark.pipeline.temporal import overlap_join

    a = spark.createDataFrame(
        [(1, 0, 250), (2, 90, 110), (3, 100, 100), (4, 500, 900),
         (5, 0, 1000)], "a_id INT, a_lo BIGINT, a_hi BIGINT")
    b = spark.createDataFrame(
        [(10, 100, 300), (11, 250, 260), (12, 0, 50), (13, 901, 950),
         (14, 100, 899)], "b_id INT, b_lo BIGINT, b_hi BIGINT")
    got = overlap_join(a, b, block=100).select("a_id", "b_id") \
        .toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    naive = (a.crossJoin(b)
             .where((F.col("a_lo") <= F.col("b_hi"))
                    & (F.col("b_lo") <= F.col("a_hi")))
             .select("a_id", "b_id").toPandas()
             .sort_values(["a_id", "b_id"]).reset_index(drop=True))
    import pandas as pd
    pd.testing.assert_frame_equal(got, naive)
    assert not got.duplicated().any()
    pairs = set(map(tuple, got.values))
    assert (3, 10) in pairs          # touching endpoints: inclusive
    assert (1, 11) in pairs          # a_hi == b_lo boundary
    assert (5, 14) in pairs          # multi-block-wide both sides
    assert (4, 13) not in pairs      # gap of 1: disjoint


def test_overlap_join_negative_and_zero_crossing_bounds(spark):
    """Bounds below and across zero: `div` truncates toward zero, so the
    block straddling zero spans [-(block-1), block-1]. The block keys
    stay monotone and shared by both sides and the start-block check,
    so the blocked plan emits exactly the brute-force overlap pairs,
    each once, with the right (ov_lo, ov_hi)."""
    from spatialsketch_spark.pipeline.temporal import overlap_join

    a_rows = [(1, -250, -101), (2, -99, 99), (3, -5, 5), (4, -1000, 1000),
              (5, 0, 0), (6, -100, -100), (7, 99, 150), (8, -301, -300)]
    b_rows = [(10, -100, -100), (11, 0, 250), (12, -300, -200),
              (13, 100, 100), (14, -1, -1), (15, -199, -101),
              (16, 1, 98), (17, -302, -299)]
    a = spark.createDataFrame(a_rows, "a_id INT, a_lo BIGINT, a_hi BIGINT")
    b = spark.createDataFrame(b_rows, "b_id INT, b_lo BIGINT, b_hi BIGINT")
    got = [tuple(r) for r in overlap_join(a, b, block=100)
           .select("a_id", "b_id", "ov_lo", "ov_hi").collect()]
    want = sorted((ai, bi, max(alo, blo), min(ahi, bhi))
                  for ai, alo, ahi in a_rows for bi, blo, bhi in b_rows
                  if alo <= bhi and blo <= ahi)
    assert sorted(got) == want
    assert len(got) == len(set(got))
    pairs = {(ai, bi) for ai, bi, _, _ in want}
    assert (3, 14) in pairs          # both inside the zero block
    assert (2, 10) not in pairs      # -99 vs -100: disjoint by one
    assert (6, 10) in pairs          # equal negative points touch
    assert (8, 17) in pairs          # both left of the zero block
