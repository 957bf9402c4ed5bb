"""Temporal operators Spark's built-ins don't provide directly —
composed from DataFrame primitives per the engine's design rule
(SURVEY.md §2 note: compose built-ins first, UDFs only if semantics
demand it). All three are exact and DuckDB-oracle-checked.

- as-of join: for each left row, the latest right row with
  right.ts <= left.ts within the key — the union + windowed
  last(ignorenulls) construction (one shuffle on (key, ts), no range
  explosion). DuckDB's native ASOF JOIN is the oracle.
- range join: events against literal interval brackets — broadcast +
  BETWEEN (Catalyst turns it into a broadcast nested-loop; bracket
  count is small by construction at query time).
- time rollup: tumbling windows on the integer timeline (the
  hypertable-rollup shape); hopping windows via explode of window
  starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, key: str = "item",
              ts: str = "ts", right_val: str = "rts") -> DataFrame:
    """left columns + ``right_val`` = value of the latest right row at or
    before the left row's timestamp (null if none). Rights sort before
    lefts at equal ts so ties match (>= semantics, like ASOF JOIN)."""
    lcols = left.columns
    l = left.withColumn("_side", F.lit(1))
    r = (right.select(F.col(key), F.col(ts), F.col(right_val))
         .withColumn("_side", F.lit(0)))
    for c in lcols:
        if c not in (key, ts) and c not in r.columns:
            r = r.withColumn(c, F.lit(None))
    if right_val not in l.columns:
        l = l.withColumn(right_val, F.lit(None))
    u = l.unionByName(r.select(l.columns))
    w = (Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col("_side").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    return (u.withColumn("_rv", F.last(right_val, ignorenulls=True).over(w))
            .where(F.col("_side") == 1)
            .select(*lcols, F.col("_rv").alias(right_val)))


def asof_join_forward(left: DataFrame, right: DataFrame,
                      key: str = "item", ts: str = "ts",
                      right_val: str = "rts") -> DataFrame:
    """FORWARD as-of: left columns + ``right_val`` = value of the
    EARLIEST right row at or after the left row's timestamp (null if
    none) — the direction the backward as-of can't express
    (next-calibration, next-price-tick, time-to-next-event). Mirror
    construction: union both sides, ONE window per key ordered (ts,
    side) with lefts BEFORE rights at equal ts (so >= ties match),
    first(ignorenulls) over the FOLLOWING frame. Same single-shuffle
    cost shape as :func:`asof_join`."""
    lcols = left.columns
    l = left.withColumn("_side", F.lit(0))
    r = (right.select(F.col(key), F.col(ts), F.col(right_val))
         .withColumn("_side", F.lit(1)))
    for c in lcols:
        if c not in (key, ts) and c not in r.columns:
            r = r.withColumn(c, F.lit(None))
    if right_val not in l.columns:
        l = l.withColumn(right_val, F.lit(None))
    u = l.unionByName(r.select(l.columns))
    w = (Window.partitionBy(key)
         .orderBy(F.col(ts).asc(), F.col("_side").asc())
         .rowsBetween(0, Window.unboundedFollowing))
    return (u.withColumn("_rv", F.first(right_val, ignorenulls=True).over(w))
            .where(F.col("_side") == 0)
            .select(*lcols, F.col("_rv").alias(right_val)))


def range_join(events: DataFrame, brackets: DataFrame,
               col: str = "ts", lo: str = "lo", hi: str = "hi") -> DataFrame:
    """events x brackets ON events[col] BETWEEN lo AND hi (inclusive);
    bracket side broadcast."""
    cond = F.col(col).between(F.col(lo), F.col(hi))
    return events.join(F.broadcast(brackets), cond, "inner")


def asof_join_bucketed(left: DataFrame, right: DataFrame,
                       epoch_width: int, key: str = "item",
                       ts: str = "ts", right_val: str = "rts"
                       ) -> DataFrame:
    """Skew-bounded as-of join — same semantics as ``asof_join`` (equal
    output asserted in tests; gated against the same DuckDB ASOF JOIN
    oracle), but no partition ever holds a whole hot key's history:

    1. within-(key, epoch) pass: the union + windowed-last construction
       partitioned by (key, floor(ts/epoch_width)) — partition size is
       bounded by one key's traffic in ONE epoch;
    2. cross-epoch fallback: rows with no right match inside their
       epoch take the last right value of the latest EARLIER epoch,
       computed from the per-(key, epoch) reduction (one row per
       touched epoch — orders of magnitude smaller than the input) via
       a windowed cumulative-last shifted by one epoch.

    Correctness: any right row in an earlier epoch has ts < the left
    row's epoch start <= left ts, so the latest such row is exactly the
    as-of fallback; rights inside the epoch are handled by pass 1 with
    the same >=-tie ordering as asof_join."""
    ep = lambda c: F.floor(F.col(c) / epoch_width)  # noqa: E731
    lcols = left.columns
    l = left.withColumn("_side", F.lit(1)).withColumn("_ep", ep(ts))
    r = (right.select(F.col(key), F.col(ts), F.col(right_val))
         .withColumn("_side", F.lit(0)).withColumn("_ep", ep(ts)))
    for c in lcols:
        if c not in (key, ts) and c not in r.columns:
            r = r.withColumn(c, F.lit(None))
    if right_val not in l.columns:
        l = l.withColumn(right_val, F.lit(None))
    u = l.unionByName(r.select(l.columns))
    w1 = (Window.partitionBy(key, "_ep")
          .orderBy(F.col(ts).asc(), F.col("_side").asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    in_epoch = (u.withColumn("_rv", F.last(right_val,
                                           ignorenulls=True).over(w1))
                .where(F.col("_side") == 1))
    # per-(key, epoch) last NON-NULL right value (asof_join's
    # last(ignorenulls) skips null right values, so a null-valued max-ts
    # row must not shadow an earlier non-null one); the fallback
    # timeline must contain EVERY touched epoch — right-only epochs
    # carry the value forward, left-only epochs are probes with no
    # value of their own
    ep_last = (r.where(F.col(right_val).isNotNull())
               .groupBy(key, "_ep")
               .agg(F.max(F.struct(F.col(ts), F.col(right_val)))
                    .alias("_m"))
               .select(key, "_ep", F.col(f"_m.{right_val}").alias("_epv")))
    left_only = (in_epoch.select(key, "_ep").distinct()
                 .join(ep_last.select(key, "_ep"), [key, "_ep"],
                       "left_anti")
                 .withColumn("_epv", F.lit(None)))
    timeline = ep_last.unionByName(left_only.select(key, "_ep", "_epv"))
    w2 = (Window.partitionBy(key).orderBy(F.col("_ep").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    fallback = timeline.select(
        key, "_ep",
        F.last("_epv", ignorenulls=True).over(w2).alias("_fb"))
    return (in_epoch.join(fallback, [key, "_ep"], "left")
            .select(*lcols,
                    F.coalesce("_rv", "_fb").alias(right_val)))


def range_join_bucketed(events: DataFrame, brackets: DataFrame,
                        block: int, col: str = "ts", lo: str = "lo",
                        hi: str = "hi") -> DataFrame:
    """Interval join for bracket tables too large to broadcast — the
    100 TB path ``range_join``'s broadcast-nested-loop lacks. Each
    bracket explodes to the fixed-size value blocks it covers; events
    carry their single block id; the equi-join on block co-locates both
    sides (a plain shuffle hash join), and the exact BETWEEN recheck
    keeps it semantically identical to ``range_join`` (asserted in
    tests + gated against the same oracle). Each qualifying pair
    matches in exactly one block, so no dedup is needed. ``block``
    trades bracket-side fan-out (width/block rows per bracket) against
    per-block event fan-in — set it near the median bracket width."""
    if block <= 0:
        raise ValueError("block must be positive")
    b = brackets.withColumn(
        "blk", F.explode(F.sequence(F.floor(F.col(lo) / block),
                                    F.floor(F.col(hi) / block))))
    e = events.withColumn("blk", F.floor(F.col(col) / block))
    cond = F.col(col).between(F.col(lo), F.col(hi))
    return e.join(b, "blk").where(cond).drop("blk")


def overlap_join(a: DataFrame, b: DataFrame, block: int,
                 key: str | None = None,
                 a_lo: str = "a_lo", a_hi: str = "a_hi",
                 b_lo: str = "b_lo", b_hi: str = "b_hi") -> DataFrame:
    """INTERVAL x INTERVAL overlap join (inclusive: a_lo <= b_hi AND
    b_lo <= a_hi) — the temporal-join flavor as-of and point-in-range
    don't cover (session-overlap, co-presence, conflict detection).

    Scale shape: BOTH sides explode onto the fixed-size time blocks
    they span, the equi-join on (key, block) co-locates candidates (a
    plain shuffle hash join — never a nested loop over the cross
    product), the exact predicate rechecks, and EXACTLY-ONCE pair
    emission needs no dedup shuffle: a pair is kept only in the block
    containing the overlap's START, greatest(a_lo, b_lo) — each
    overlapping pair has exactly one such block. Per-row fan-out is
    width/block + 1, so `block` near the median interval width keeps
    the blowup ~2x. Returns a.* + b.* + (ov_lo, ov_hi)."""
    if block <= 0:
        raise ValueError("block must be positive")
    # exact integer block keys (ADVICE r7: the float quotient loses
    # exactness for |bounds| at/past 2^53, e.g. epoch nanoseconds,
    # silently breaking block coverage and the exactly-once start-block
    # rule). `div` truncates toward zero, so it is not floor division
    # for negative bounds, but it is monotone: both sides explode onto
    # the same keys the start-block check uses, so coverage and
    # exactly-once hold for negative bounds too. The one cost is that
    # the block straddling zero is 2·block − 1 wide,
    # [-(block - 1), block - 1].
    blks = lambda lo, hi: F.explode(  # noqa: E731
        F.sequence(F.expr(f"{lo} div {block}"),
                   F.expr(f"{hi} div {block}")))
    ae = a.withColumn("_blk", blks(a_lo, a_hi))
    be = b.withColumn("_blk", blks(b_lo, b_hi))
    on = ["_blk"] + ([key] if key else [])
    ov_lo = F.greatest(F.col(a_lo), F.col(b_lo))
    ov_hi = F.least(F.col(a_hi), F.col(b_hi))
    return (ae.join(be, on)
            .where((F.col(a_lo) <= F.col(b_hi))
                   & (F.col(b_lo) <= F.col(a_hi))
                   & (F.expr(f"greatest({a_lo}, {b_lo}) div {block}")
                      == F.col("_blk")))
            .withColumn("ov_lo", ov_lo).withColumn("ov_hi", ov_hi)
            .drop("_blk"))


def time_rollup(events: DataFrame, width: int, ts: str = "ts",
                hop: int | None = None) -> DataFrame:
    """Tumbling (or hopping, if hop < width) window counts on an integer
    timeline. -> (w_start, cnt [, ...group cols])."""
    if hop is None or hop == width:
        w_start = (F.col(ts) - F.col(ts) % width).alias("w_start")
        return (events.groupBy(w_start)
                .agg(F.sum("value").alias("cnt"))
                .select(F.col("w_start").cast("bigint"),
                        F.col("cnt").cast("bigint")))
    # hopping: a row at t belongs to windows starting in
    # (t - width, t] stepped by hop. The earliest *aligned* start that
    # can still contain t is align(t) - (ceil(width/hop) - 1) * hop —
    # floor(width/hop) would drop the first window whenever hop does
    # not divide width, and would make sequence() start > stop when
    # hop > width. Spurious early starts (and, for hop > width, rows
    # falling in no window at all) are trimmed by the where() below.
    first = (F.col(ts) - F.col(ts) % hop) - (-(-width // hop) - 1) * hop
    starts = F.sequence(F.greatest(first, F.lit(0)),
                        F.col(ts) - F.col(ts) % hop, F.lit(hop))
    return (events.withColumn("w_start", F.explode(starts))
            .where(F.col(ts) < F.col("w_start") + width)
            .groupBy("w_start").agg(F.sum("value").alias("cnt"))
            .select(F.col("w_start").cast("bigint"),
                    F.col("cnt").cast("bigint")))


def session_rollup(events: DataFrame, gap: int, ts: str = "ts",
                   keys: tuple = ("item",)) -> DataFrame:
    """Session windows on an integer timeline via Spark's NATIVE
    ``session_window`` (batch + streaming — the built-in operator, not
    a hand-rolled gaps-and-islands): per key, an event opens the
    interval [t, t+gap]; touching-or-overlapping intervals merge into
    one session, so a session BREAKS exactly when the gap between
    consecutive events EXCEEDS ``gap`` (a gap of exactly ``gap``
    merges — Spark's inclusive boundary, pinned by a handcrafted
    boundary test). Outputs
    integer bounds: s_start = first event ts, s_end = last event ts +
    gap (the session_window.end). Scale note: the shuffle is on
    (keys, merged sessions) — same skew posture as the non-bucketed
    as-of join; a single key's timeline lands in one partition.
    -> (keys..., s_start, s_end, n_events, val_sum)."""
    et = F.timestamp_seconds(F.col(ts))
    agg = (events.groupBy(*keys, F.session_window(et, f"{gap} seconds"))
           .agg(F.count("*").alias("n_events"),
                F.sum("value").alias("val_sum")))
    return agg.select(
        *[F.col(k).cast("bigint") for k in keys],
        F.unix_timestamp(F.col("session_window.start")).cast("bigint")
        .alias("s_start"),
        F.unix_timestamp(F.col("session_window.end")).cast("bigint")
        .alias("s_end"),
        F.col("n_events").cast("bigint"),
        F.col("val_sum").cast("bigint"))
