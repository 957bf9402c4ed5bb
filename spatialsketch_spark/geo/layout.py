"""Z-order (Morton) data layout — the standard lakehouse clustering
primitive for spatial data (Delta/Iceberg `ZORDER BY`-class): map each
event's (x, y) grid cell to its Morton code so that sorting or
range-bucketing by the code stores spatially-near events together,
turning rectangle queries into a handful of contiguous scan ranges
instead of a full-table read.

The reference engine has no layout surface at all (single-process,
whole-stream in memory); at 100 TB the layout IS the difference
between a partition-pruned scan and touching every file, which is why
this ships as a first-class gated operator.

Everything is integer arithmetic shared bit-for-bit with the DuckDB
oracle: the bit interleave is the classic parallel bit-spread (four
mask-and-shift stages per coordinate, shifts expressed as multiplies
by powers of two so the same arithmetic runs on both engines), fully
inside whole-stage codegen — no UDF, no shuffle before the final
per-bucket aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .events import derive_geo_events, geo_events_sql

# Parallel bit-spread masks (public-domain Morton-code construction,
# e.g. Stanford Bit Twiddling Hacks): after the four stages a 12-bit
# coordinate occupies the even bit positions of a 24-bit word.
_SPREAD = [(256, 0x00FF00FF), (16, 0x0F0F0F0F),
           (4, 0x33333333), (2, 0x55555555)]

# 64-bit parallel bit-spread (a coordinate below 2^32 -> the even
# positions of a 64-bit word), same construction as _SPREAD one stage
# wider.
_SPREAD64 = [(1 << 16, 0x0000FFFF0000FFFF), (1 << 8, 0x00FF00FF00FF00FF),
             (16, 0x0F0F0F0F0F0F0F0F), (4, 0x3333333333333333),
             (2, 0x5555555555555555)]

ZORDER_BITS = 12          # grid is N=4096
DEFAULT_BUCKETS = 64


def zorder_col(x, y):
    """Morton code of two grid coordinates in [0, 2^31) as a codegen
    bigint Column: x on the even bits, y on the odd bits. Below 2^12
    it equals the 32-bit ``_SPREAD`` code the layout oracle computes."""
    def spread(v):
        v = v.cast("bigint")
        for mul, mask in _SPREAD64:
            v = v.bitwiseOR(v * mul).bitwiseAND(F.lit(mask))
        return v
    return spread(x).bitwiseOR(spread(y) * 2)


def zorder_layout(geo: DataFrame,
                  buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Range-bucket the event stream by Morton code: bucket = the top
    log2(buckets) interleaved bits, which is EXACTLY a square spatial
    block (for 64 buckets on a 4096 grid: the (x div 512, y div 512)
    block) — the locality property pytest pins. One map-side pass plus
    one ≤`buckets`-group aggregation.

    -> (bucket, n_events, z_min, z_max)."""
    import math
    side = int(math.isqrt(buckets)) if buckets > 0 else 0
    if buckets <= 0 or side * side != buckets or buckets & (buckets - 1):
        # a non-square power of two (e.g. 32) would make buckets 2:1
        # rectangles — still valid ranges, but the square-block
        # contract documented here and the zorder_rect_buckets reader
        # rewrite both assume squares; require what we promise
        raise ValueError("buckets must be a perfect-square power of "
                         "two (4, 16, 64, 256, ...)")
    width = (1 << (2 * ZORDER_BITS)) // buckets
    return (geo.withColumn("zval", zorder_col(F.col("x"), F.col("y")))
            .withColumn("bucket", F.expr(f"zval div {width}"))
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.min("zval").cast("bigint").alias("z_min"),
                 F.max("zval").cast("bigint").alias("z_max")))


def q_zorder_layout(spark: SparkSession, sf_dir: str, n: int,
                    buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return zorder_layout(derive_geo_events(spark, sf_dir, n),
                         buckets).orderBy("bucket")


def _spread_sql(v: str) -> str:
    for mul, mask in _SPREAD:
        v = f"((({v}) | ({v}) * {mul}) & {mask})"
    return v


def oracle_zorder_layout(n: int,
                         buckets: int = DEFAULT_BUCKETS) -> str:
    width = (1 << (2 * ZORDER_BITS)) // buckets
    return f"""
WITH geo AS ({geo_events_sql(n)}),
z AS (SELECT ({_spread_sql('x')} | {_spread_sql('y')} * 2) AS zval
      FROM geo)
SELECT CAST(zval // {width} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(zval) AS BIGINT) AS z_min,
       CAST(MAX(zval) AS BIGINT) AS z_max
FROM z GROUP BY 1 ORDER BY 1
"""


def _spread_py(v: int) -> int:
    for mul, mask in _SPREAD:
        v = (v | v * mul) & mask
    return v


def zorder_rect_buckets(x1: int, y1: int, x2: int, y2: int,
                        buckets: int = DEFAULT_BUCKETS) -> list[int]:
    """Reader-side rewrite for a z-ordered layout: the bucket ids a
    rectangle query touches (each bucket is one square spatial block,
    so this is just the Morton codes of the overlapped block range).
    Appending `bucket IN (...)` to the rect predicate turns the scan
    into static partition pruning — only the matching partitions of a
    bucket-partitioned table are listed and read, which is the entire
    point of the layout at 100 TB. Pure driver arithmetic, O(#blocks
    overlapped)."""
    import math
    side = int(math.isqrt(buckets))
    if side * side != buckets:
        raise ValueError("buckets must be a perfect square")
    # strict input validation (ADVICE r6): a reversed rect would
    # silently return [] and, as the documented `bucket IN (...)`
    # reader rewrite, silently read ZERO rows; out-of-grid coords
    # would emit nonexistent bucket ids. Mirror zorder_layout's
    # strictness and fail loudly instead.
    x1, y1, x2, y2 = int(x1), int(y1), int(x2), int(y2)
    if x1 > x2 or y1 > y2:
        raise ValueError(
            f"reversed rect ({x1},{y1})-({x2},{y2}): need x1<=x2, y1<=y2")
    lim = 1 << ZORDER_BITS
    if min(x1, y1) < 0 or max(x2, y2) >= lim:
        raise ValueError(
            f"rect ({x1},{y1})-({x2},{y2}) outside the z-order grid "
            f"[0, {lim})")
    blk = lim // side
    out = set()
    for bx in range(int(x1) // blk, int(x2) // blk + 1):
        for by in range(int(y1) // blk, int(y2) // blk + 1):
            out.add(_spread_py(bx) | (_spread_py(by) << 1))
    return sorted(out)


GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_BITS = 20          # lon/lat index resolution (2^20 per axis)
GEOHASH_CHARS = 8          # 8 chars x 5 bits = 40 = 2 x 20


def geohash_bits_col(lon_idx, lat_idx):
    """The 40 interleaved geohash bits as ONE bigint (MSB-first lon/lat
    alternation starting with lon). Because the base32 alphabet is
    ASCII-ascending, the fixed-length geohash STRING order equals this
    integer's order — aggregations can run on the integer and render
    strings per group instead of per row."""
    def spread(v):
        for mul, mask in _SPREAD64:
            v = v.bitwiseOR(v * mul).bitwiseAND(F.lit(mask))
        return v
    return spread(lat_idx).bitwiseOR(spread(lon_idx) * 2)


def geohash_render(bits, nchars: int = GEOHASH_CHARS,
                   total_bits: int = 5 * GEOHASH_CHARS):
    """Leading ``nchars`` base32 characters of a ``total_bits``-wide
    geohash bit column."""
    chars = [F.substring(F.lit(GEOHASH_B32),
                         (F.shiftright(bits, total_bits - 5 * (j + 1))
                          .bitwiseAND(F.lit(31)) + 1).cast("int"), 1)
             for j in range(nchars)]
    return F.concat(*chars)


def geohash_col(lon_idx, lat_idx):
    """Standard geohash (base32, MSB-first lon/lat bit alternation
    starting with lon) of integer grid indices lon_idx, lat_idx in
    [0, 2^20): 8 characters = the full 40 interleaved bits, so this is
    the exact public geohash of the grid point (pytest pins it against
    a reference bisection encoder). All codegen: two 5-stage bit
    spreads, then one substring lookup per character."""
    return geohash_render(geohash_bits_col(lon_idx, lat_idx))


def _spread64_sql(v: str) -> str:
    for mul, mask in _SPREAD64:
        v = f"((({v}) | ({v}) * {mul}) & {mask})"
    return v


def geohash_sql(lon_idx: str, lat_idx: str) -> str:
    """The same geohash as ANSI SQL text (DuckDB oracle side)."""
    gh = f"({_spread64_sql(lat_idx)} | {_spread64_sql(lon_idx)} * 2)"
    chars = " || ".join(
        f"substr('{GEOHASH_B32}', "
        f"CAST((({gh} >> {35 - 5 * j}) & 31) + 1 AS INT), 1)"
        for j in range(GEOHASH_CHARS))
    return f"({chars})"


def q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash rollup gate: events -> the same deterministic integer
    lon/lat indices the spherical gates use (sources/geocells.py
    lonlat_sql multipliers) -> standard 8-char geohash -> per-4-char-
    prefix counts + min/max hash. One map-side pass + one bounded
    aggregation; the geohash itself is pinned against a reference
    bisection encoder in tests/test_layout.py."""
    m = 1 << GEOHASH_BITS
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kx = F.expr(f"((event_id % {m}) * 2654435761) % {m}")
    ky = F.expr(f"((event_id % {m}) * 2246822519 + user_id * 97) % {m}")
    # aggregate on the 40-bit INTEGER hash and render base32 strings
    # per GROUP (r8, guide §2.3): fixed-length geohash string order ==
    # integer order (ASCII-ascending alphabet), so substring(gh,1,4)
    # == render(bits >> 20) and min/max commute with rendering — the
    # per-row work drops from 8 substring+concat string builds to two
    # integer bit spreads, and the exchange carries ints, not strings
    return (ev.select(geohash_bits_col(kx, ky).alias("ghi"))
            .groupBy(F.shiftright("ghi", 20).alias("_g4"))
            .agg(F.count("*").cast("bigint").alias("cnt"),
                 F.min("ghi").alias("_mn"),
                 F.max("ghi").alias("_mx"))
            .select(geohash_render(F.col("_g4"), 4, 20).alias("gh4"),
                    "cnt",
                    geohash_render(F.col("_mn")).alias("gh_min"),
                    geohash_render(F.col("_mx")).alias("gh_max")))


def oracle_geohash_rollup() -> str:
    m = 1 << GEOHASH_BITS
    kx = f"((event_id % {m}) * 2654435761) % {m}"
    ky = f"((event_id % {m}) * 2246822519 + user_id * 97) % {m}"
    gh = geohash_sql(kx, ky)
    return f"""
WITH g AS (SELECT {gh} AS gh FROM events)
SELECT substr(gh, 1, 4) AS gh4, CAST(COUNT(*) AS BIGINT) AS cnt,
       MIN(gh) AS gh_min, MAX(gh) AS gh_max
FROM g GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- Hilbert

HILBERT_BITS = ZORDER_BITS          # same 4096 grid


def _hilbert_step(st, rx_o, ry_o):
    """One level of the public xy2d recurrence expressed on the ORIGINAL
    coordinate bits: the recurrence only ever (a) complements both
    remaining coordinates (x = n-1-x flips every remaining bit) and
    (b) swaps x and y, so the accumulated transform is fully described
    by state (perm, cx, cy): virtual_x bit = (y-bit if perm else x-bit)
    XOR cx, same for y. Returns (quadrant digit, next state)."""
    perm, cx, cy = st
    rx = (ry_o if perm else rx_o) ^ cx
    ry = (rx_o if perm else ry_o) ^ cy
    digit = (3 * rx) ^ ry
    if ry == 0:
        if rx == 1:
            cx ^= 1
            cy ^= 1
        perm ^= 1
        cx, cy = cy, cx
    return digit, (perm, cx, cy)


def _hilbert_tables() -> tuple[list[int], list[int]]:
    """Lookup tables for the fused fold: pair_tbl[state*16 + 4 raw
    bits] = next_state*16 + (digit1*4 + digit2) over two consecutive
    levels; single_tbl[state*4 + 2 raw bits] = next_state*4 + digit
    for an odd trailing level. Derived from _hilbert_step, so the
    Spark fold IS the public recurrence, only memoized."""
    states = [(p, a, b) for p in (0, 1) for a in (0, 1) for b in (0, 1)]
    sidx = {s: i for i, s in enumerate(states)}
    pair_tbl = []
    single_tbl = []
    for s in states:
        for b4 in range(16):
            rx1, ry1 = (b4 >> 3) & 1, (b4 >> 2) & 1
            rx2, ry2 = (b4 >> 1) & 1, b4 & 1
            d1, s1 = _hilbert_step(s, rx1, ry1)
            d2, s2 = _hilbert_step(s1, rx2, ry2)
            pair_tbl.append(sidx[s2] * 16 + d1 * 4 + d2)
        for b2 in range(4):
            d, s1 = _hilbert_step(s, (b2 >> 1) & 1, b2 & 1)
            single_tbl.append(sidx[s1] * 4 + d)
    return pair_tbl, single_tbl


def hilbert_col(df: DataFrame, x: str = "x", y: str = "y",
                out: str = "hd") -> DataFrame:
    """Append the Hilbert-curve index of grid coords (``x``, ``y``) —
    the second space-filling-curve layout a lakehouse wants next to
    Morton: Hilbert has no Z-shaped jumps, so consecutive codes are
    ALWAYS 4-adjacent cells and range buckets have ~⅓ lower average
    query-rect fragmentation (measured in tests/test_layout.py).

    Table-driven state machine, TWO levels fused per stage (r8; was a
    per-level coordinate-mutating CASE fold costing 1.7x the Morton
    spread — VERDICT r7 task 6): the xy2d recurrence only ever applies
    swap / complement-both reflections to the remaining coordinate
    bits, so the whole transform state is (perm, cx, cy) — 8 states.
    Per fused stage the 4 raw bits of (x, y) at the two levels index a
    128-entry table (derived programmatically from the public
    recurrence in :func:`_hilbert_tables`, pinned against
    :func:`hilbert_xy2d_py` in tests) packed as next_state*16 + the
    2-level digit pair; x and y are never mutated, the constant array
    folds to one literal, and each stage is 1 lookup + 4 shifts
    instead of 6 projections of branchy CASEs. Integer ops only — the
    DuckDB oracle (:func:`hilbert_sql`) keeps the original per-level
    arithmetic as nested subqueries (independent semantics). No UDF,
    no shuffle."""
    pair_tbl, single_tbl = _hilbert_tables()
    arr = F.array(*[F.lit(v) for v in pair_tbl])
    df = (df.withColumn("_hx", F.col(x).cast("bigint"))
            .withColumn("_hy", F.col(y).cast("bigint"))
            .withColumn("_hd", F.lit(0).cast("bigint"))
            .withColumn("_hs", F.lit(0)))
    bit = HILBERT_BITS - 1
    while bit >= 1:
        s1, s2 = bit, bit - 1
        b4 = (F.shiftright("_hx", s1).bitwiseAND(F.lit(1)) * 8
              + F.shiftright("_hy", s1).bitwiseAND(F.lit(1)) * 4
              + F.shiftright("_hx", s2).bitwiseAND(F.lit(1)) * 2
              + F.shiftright("_hy", s2).bitwiseAND(F.lit(1)))
        # bind the lookup to a column so the digit and state uses share
        # ONE element_at (multi-use aliases survive CollapseProject;
        # unaliased, every stage's lookup was evaluated twice)
        df = (df.withColumn("_hv", F.element_at(
                    arr, (F.col("_hs") * 16 + b4 + 1).cast("int")))
                .withColumn("_hd", F.col("_hd") * 16
                            + (F.col("_hv") % 16).cast("bigint"))
                .withColumn("_hs", F.shiftright("_hv", 4).cast("int")))
        bit -= 2
    if bit == 0:                      # odd HILBERT_BITS: one-level tail
        arr1 = F.array(*[F.lit(v) for v in single_tbl])
        b2 = (F.col("_hx").bitwiseAND(F.lit(1)) * 2
              + F.col("_hy").bitwiseAND(F.lit(1)))
        df = (df.withColumn("_hv", F.element_at(
                    arr1, (F.col("_hs") * 4 + b2 + 1).cast("int")))
                .withColumn("_hd", F.col("_hd") * 4
                            + (F.col("_hv") % 4).cast("bigint"))
                .withColumn("_hs", F.shiftright("_hv", 2).cast("int")))
    return (df.withColumn(out, F.col("_hd"))
              .drop("_hx", "_hy", "_hd", "_hs", "_hv"))


def hilbert_xy2d_py(n: int, x: int, y: int) -> int:
    """Reference scalar implementation (the public algorithm verbatim)
    used by the pytest pin."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_d2xy_py(n: int, d: int) -> tuple[int, int]:
    """Inverse of :func:`hilbert_xy2d_py` (the public algorithm
    verbatim): curve index -> (x, y). Driver-side utility for reader
    tooling — turning a coalesced bucket range back into the grid
    cells it covers (range audits, debugging a pruning rewrite,
    emitting human-readable region bounds for a curve segment)."""
    if not 0 <= d < n * n:
        raise ValueError(f"d={d} outside curve of side {n}")
    x = y = 0
    t = d
    s = 1
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


def hilbert_range_cells(n: int, lo: int, hi: int
                        ) -> list[tuple[int, int]]:
    """Enumerate the (x, y) cells of curve segment [lo, hi] — the
    audit inverse of the bucket-range reader: every cell a coalesced
    BETWEEN range admits, in curve order (adjacent cells differ by
    exactly one grid step, the curve's defining property)."""
    if lo > hi:
        raise ValueError(f"reversed range [{lo}, {hi}]")
    return [hilbert_d2xy_py(n, d) for d in range(lo, hi + 1)]


def hilbert_layout(geo: DataFrame,
                   buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Hilbert twin of :func:`zorder_layout`: range-bucket the stream
    by Hilbert index. Hilbert buckets are contiguous curve segments
    (connected, equal-area regions — not squares like Morton's, but
    never the split halves a Z jump produces).

    -> (bucket, n_events, h_min, h_max)."""
    if buckets <= 0 or buckets & (buckets - 1):
        raise ValueError("buckets must be a power of two")
    width = (1 << (2 * HILBERT_BITS)) // buckets
    return (hilbert_col(geo)
            .withColumn("bucket", F.expr(f"hd div {width}"))
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.min("hd").cast("bigint").alias("h_min"),
                 F.max("hd").cast("bigint").alias("h_max")))


def q_hilbert_layout(spark: SparkSession, sf_dir: str, n: int,
                     buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return hilbert_layout(derive_geo_events(spark, sf_dir, n),
                          buckets).orderBy("bucket")


def hilbert_sql(src_select: str) -> str:
    """DuckDB rendering of the same per-level fold over a subquery
    producing (hx, hy): nested one-projection-per-level subqueries —
    each level references its inputs multiple times, which DuckDB
    evaluates column-at-a-time per operator (no expression blow-up)."""
    n = 1 << HILBERT_BITS
    q = f"SELECT hx, hy, CAST(0 AS BIGINT) AS hd FROM ({src_select})"
    s = n // 2
    while s > 0:
        q = f"""SELECT
  CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN {n - 1} - hy ELSE hy END AS hx,
  CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN {n - 1} - hx ELSE hx END AS hy,
  hd + {s * s} * (3 * rx + ry - 2 * rx * ry) AS hd
FROM (SELECT hx, hy, hd, (hx // {s}) % 2 AS rx, (hy // {s}) % 2 AS ry
      FROM ({q}))"""
        s //= 2
    return q


def oracle_hilbert_layout(n: int,
                          buckets: int = DEFAULT_BUCKETS) -> str:
    width = (1 << (2 * HILBERT_BITS)) // buckets
    inner = hilbert_sql(
        f"WITH geo AS ({geo_events_sql(n)}) "
        f"SELECT x AS hx, y AS hy FROM geo")
    return f"""
SELECT CAST(hd // {width} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(hd) AS BIGINT) AS h_min,
       CAST(MAX(hd) AS BIGINT) AS h_max
FROM ({inner}) GROUP BY 1 ORDER BY 1
"""


def hilbert_rect_buckets(x1: int, y1: int, x2: int, y2: int,
                         buckets: int = DEFAULT_BUCKETS) -> list[int]:
    """Reader-side rewrite for a Hilbert layout (twin of
    :func:`zorder_rect_buckets`): the bucket ids a rectangle touches.
    Works because (a) every aligned 2^k square is a CONTIGUOUS Hilbert
    range, and (b) the curve is self-similar MSB-first, so for a
    power-of-4 bucket count each bucket is exactly one aligned
    (n/side)² block whose id is the coarse-grid Hilbert index of the
    block. Same strict validation as the Morton form."""
    import math
    side = int(math.isqrt(buckets))
    if side * side != buckets or buckets & (buckets - 1):
        raise ValueError("buckets must be a power of 4 for the "
                         "square-block rewrite (4, 16, 64, 256, ...)")
    x1, y1, x2, y2 = int(x1), int(y1), int(x2), int(y2)
    if x1 > x2 or y1 > y2:
        raise ValueError(
            f"reversed rect ({x1},{y1})-({x2},{y2}): need x1<=x2, y1<=y2")
    lim = 1 << HILBERT_BITS
    if min(x1, y1) < 0 or max(x2, y2) >= lim:
        raise ValueError(
            f"rect ({x1},{y1})-({x2},{y2}) outside the grid [0, {lim})")
    blk = lim // side
    out = set()
    for bx in range(x1 // blk, x2 // blk + 1):
        for by in range(y1 // blk, y2 // blk + 1):
            out.add(hilbert_xy2d_py(side, bx, by))
    return sorted(out)


def coalesce_buckets(bucket_ids: list[int]) -> list[tuple[int, int]]:
    """Merge a set of bucket ids into maximal contiguous [lo, hi]
    ranges. The reader-side IN-list rewrite is correct at any scale
    but its predicate SIZE grows with the rect: a country-sized rect
    over a fine bucket grid touches thousands of buckets, and a
    thousand-term IN list bloats the plan, the Hive partition-pruning
    expression, and (for range-partitioned or file-sorted layouts)
    loses the fact that most of those ids are CONSECUTIVE along the
    curve. Coalescing turns the id set into O(#runs) BETWEEN ranges —
    and #runs is exactly the curve-locality number the fragmentation
    test measures (Hilbert: ~O(perimeter/block) runs; Morton: more,
    from Z-jumps), so the predicate stays small precisely because the
    layout is good. Pure driver arithmetic, O(k log k)."""
    if not bucket_ids:
        raise ValueError("empty bucket id list (reversed/degenerate "
                         "rect upstream?)")
    ids = sorted(set(int(b) for b in bucket_ids))
    ranges = []
    lo = prev = ids[0]
    for b in ids[1:]:
        if b == prev + 1:
            prev = b
            continue
        ranges.append((lo, prev))
        lo = prev = b
    ranges.append((lo, prev))
    return ranges


def zorder_rect_ranges(x1: int, y1: int, x2: int, y2: int,
                       buckets: int = DEFAULT_BUCKETS
                       ) -> list[tuple[int, int]]:
    """`zorder_rect_buckets` coalesced to contiguous ranges."""
    return coalesce_buckets(zorder_rect_buckets(x1, y1, x2, y2, buckets))


def hilbert_rect_ranges(x1: int, y1: int, x2: int, y2: int,
                        buckets: int = DEFAULT_BUCKETS
                        ) -> list[tuple[int, int]]:
    """`hilbert_rect_buckets` coalesced to contiguous ranges — the
    curve's whole point: an aligned query rect covers few long runs
    of consecutive coarse-grid Hilbert indices, so the same pruning
    rewrite ships as a handful of BETWEENs however large the rect."""
    return coalesce_buckets(hilbert_rect_buckets(x1, y1, x2, y2, buckets))


def bucket_range_predicate(ranges: list[tuple[int, int]],
                           col: str = "bucket"):
    """OR-of-BETWEEN reader predicate over coalesced bucket ranges —
    drop-in replacement for `F.col(col).isin(bucket_ids)`. Catalyst
    pushes each conjunct's GreaterThanOrEqual/LessThanOrEqual into the
    partition filter, so static partition pruning is preserved (test
    pins pruned-scan row equality with the IN form)."""
    if not ranges:
        raise ValueError("empty range list")
    pred = None
    for lo, hi in ranges:
        term = (F.col(col) == int(lo)) if lo == hi else \
            F.col(col).between(int(lo), int(hi))
        pred = term if pred is None else (pred | term)
    return pred


# ------------------------------------------------------------------ hexbin

HEX_W2 = 346    # doubled-space column pitch ~= 2*sqrt(3)*s, s = 100
HEX_H2 = 300    # doubled-space row pitch    =  2*1.5*s


def hexbin_sql(x: str, y: str) -> str:
    """Hexagonal binning as ANSI SQL — an H3-style hex tiling with NO
    library and NO floats: the Voronoi diagram of two staggered
    rectangular lattices (offset by half a pitch in both axes) is a
    hexagonal tiling when the pitch ratio approximates sqrt(3):1.5
    (346:300 here — the classic two-lattice hexbin construction).
    Coordinates are DOUBLED so every candidate center is an integer;
    each point compares its squared distance to the nearest center of
    each lattice and keeps the closer (ties -> lattice A,
    deterministic). Pure integer div/mul/compare — engine-identical,
    codegen-friendly, and trivially pushed into any SQL engine.

    Returns SQL text for (hx, hy) — the doubled-space hex center."""
    X, Y = f"(2 * ({x}))", f"(2 * ({y}))"
    cxa = f"((({X} + {HEX_W2 // 2}) // {HEX_W2}) * {HEX_W2})"
    cya = f"((({Y} + {HEX_H2 // 2}) // {HEX_H2}) * {HEX_H2})"
    cxb = f"(({X} // {HEX_W2}) * {HEX_W2} + {HEX_W2 // 2})"
    cyb = f"(({Y} // {HEX_H2}) * {HEX_H2} + {HEX_H2 // 2})"
    d2a = (f"(({X} - {cxa}) * ({X} - {cxa})"
           f" + ({Y} - {cya}) * ({Y} - {cya}))")
    d2b = (f"(({X} - {cxb}) * ({X} - {cxb})"
           f" + ({Y} - {cyb}) * ({Y} - {cyb}))")
    hx = f"CASE WHEN {d2a} <= {d2b} THEN {cxa} ELSE {cxb} END"
    hy = f"CASE WHEN {d2a} <= {d2b} THEN {cya} ELSE {cyb} END"
    return hx, hy


def hexbin_cols(df: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """Spark side of :func:`hexbin_sql` — identical integer program
    via expr (floor div on nonnegative ints == `//`), so the oracle
    compares bit-for-bit. Appends (hx, hy)."""
    hx, hy = hexbin_sql(x, y)
    # Spark SQL uses `div` for integer division
    return df.withColumns({"hx": F.expr(hx.replace("//", "div")),
                           "hy": F.expr(hy.replace("//", "div"))})


def hexbin_py(x: int, y: int) -> tuple[int, int]:
    """Reference scalar implementation for the pytest pin (true
    nearest-center over both lattices by brute force)."""
    X, Y = 2 * x, 2 * y
    cxa = ((X + HEX_W2 // 2) // HEX_W2) * HEX_W2
    cya = ((Y + HEX_H2 // 2) // HEX_H2) * HEX_H2
    cxb = (X // HEX_W2) * HEX_W2 + HEX_W2 // 2
    cyb = (Y // HEX_H2) * HEX_H2 + HEX_H2 // 2
    d2a = (X - cxa) ** 2 + (Y - cya) ** 2
    d2b = (X - cxb) ** 2 + (Y - cyb) ** 2
    return (cxa, cya) if d2a <= d2b else (cxb, cyb)


def q_hexbin_rollup(spark: SparkSession, sf_dir: str,
                    n: int) -> DataFrame:
    """Hexbin rollup gate: geo events -> staggered-lattice hex cell ->
    per-cell count + value sum. One map-side integer pass + one
    bounded aggregation (cells <= area/hex-area, independent of row
    count) — the same shape the H3 rollups of a production geo stack
    take. -> (hx, hy, n_events, value_sum)."""
    from .events import derive_geo_events
    geo = derive_geo_events(spark, sf_dir, n, spread=False)
    return (hexbin_cols(geo)
            .groupBy("hx", "hy")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.sum("value").cast("bigint").alias("value_sum"))
            .select(F.col("hx").cast("bigint"),
                    F.col("hy").cast("bigint"),
                    "n_events", "value_sum"))


def oracle_hexbin_rollup(n: int) -> str:
    from .events import geo_events_sql
    hx, hy = hexbin_sql("x", "y")
    return f"""
WITH geo AS ({geo_events_sql(n)}),
h AS (SELECT {hx} AS hx, {hy} AS hy, value FROM geo)
SELECT CAST(hx AS BIGINT) AS hx, CAST(hy AS BIGINT) AS hy,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value) AS BIGINT) AS value_sum
FROM h GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------- hex-cell reader rewrite

# max squared doubled-space distance from any point to its assigned hex
# center: assignment picks the NEARER of two lattices, so it is bounded
# by the half-diagonal of ONE lattice's pitch rectangle (the bound a
# single rectangular lattice would give; the second lattice only shrinks
# it). Dilating a query rect by this radius therefore yields a provable
# SUPERSET of the hex cells whose members can lie inside the rect.
_HEX_D2 = (HEX_W2 // 2) ** 2 + (HEX_H2 // 2) ** 2
# packing offsets for the single-column cell key (centers of lattice B
# start at -W2/2 in doubled space, so shift both axes nonnegative)
_HEX_OFF = 1 << 12
_HEX_SHIFT = 1 << 22


def hex_key_py(hx: int, hy: int) -> int:
    """Single-int64 cell key for a doubled-space hex center."""
    return (hx + _HEX_OFF) * _HEX_SHIFT + (hy + _HEX_OFF)


def hex_rect_cells(x1: int, y1: int, x2: int, y2: int
                   ) -> list[tuple[int, int]]:
    """Reader-side rewrite for a HEX-partitioned layout: the set of hex
    cells a query rect can draw events from — the hexagonal twin of
    :func:`hilbert_rect_buckets` (reference rewrites rect queries into
    its rectangular dyadic grids, SpatialSketch.cpp:660-676; a hex
    tiling has no dyadic nesting, so the rewrite is center enumeration
    instead). Enumerates both staggered lattices over the rect dilated
    by the max assignment radius and keeps centers whose point-to-rect
    squared distance is within that radius — a tight SUPERSET of the
    truly-touched cells (pytest pins superset-ness by brute force), so
    `cells-predicate AND exact-rect-residual` is exactly the rect
    filter while scanning only O(rect-area / hex-area) cells. Pure
    driver arithmetic, O(#cells); predicate size ~ cells touched."""
    x1, y1, x2, y2 = int(x1), int(y1), int(x2), int(y2)
    if x1 > x2 or y1 > y2:
        raise ValueError(
            f"reversed rect ({x1},{y1})-({x2},{y2}): need x1<=x2, y1<=y2")
    import math
    D = math.isqrt(_HEX_D2) + 1
    X1, Y1, X2, Y2 = 2 * x1, 2 * y1, 2 * x2, 2 * y2
    out = []
    for ox, oy in ((0, 0), (HEX_W2 // 2, HEX_H2 // 2)):
        i_lo = -((-(X1 - D - ox)) // HEX_W2)      # ceil div
        i_hi = (X2 + D - ox) // HEX_W2
        j_lo = -((-(Y1 - D - oy)) // HEX_H2)
        j_hi = (Y2 + D - oy) // HEX_H2
        for i in range(i_lo, i_hi + 1):
            cx = i * HEX_W2 + ox
            dx = max(X1 - cx, 0, cx - X2)
            for j in range(j_lo, j_hi + 1):
                cy = j * HEX_H2 + oy
                dy = max(Y1 - cy, 0, cy - Y2)
                if dx * dx + dy * dy <= _HEX_D2:
                    out.append((cx, cy))
    return sorted(out)


def q_hex_cell_reader(spark: SparkSession, sf_dir: str, n: int,
                      rect: tuple[int, int, int, int]) -> DataFrame:
    """Hex reader gate: answer a rect query AGAINST THE HEX LAYOUT —
    filter to the driver-enumerated candidate cell-key set (the
    predicate a hex-partitioned 100 TB table prunes on; pushed to the
    scan as a plain IN over one int64 column), apply the exact rect
    residual, and roll up per cell. The DuckDB oracle answers the SAME
    rect with a plain filter over all events — so the compare proves
    the candidate set misses nothing (superset + residual == exact).
    -> (hx, hy, n_events, value_sum) for cells with events in rect."""
    from .events import derive_geo_events
    x1, y1, x2, y2 = rect
    keys = [hex_key_py(hx, hy) for hx, hy in hex_rect_cells(x1, y1, x2, y2)]
    geo = derive_geo_events(spark, sf_dir, n, spread=False)
    lay = hexbin_cols(geo).withColumn(
        "hkey", (F.col("hx") + _HEX_OFF) * _HEX_SHIFT
                + (F.col("hy") + _HEX_OFF))
    return (lay.where(F.col("hkey").isin(keys))
            .where(F.col("x").between(x1, x2)
                   & F.col("y").between(y1, y2))
            .groupBy("hx", "hy")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.sum("value").cast("bigint").alias("value_sum"))
            .select(F.col("hx").cast("bigint"),
                    F.col("hy").cast("bigint"),
                    "n_events", "value_sum"))


# the 6 hex-neighbor offsets in doubled space (two-lattice tiling:
# E/W within a lattice, the four diagonals cross to the other lattice)
HEX_NEIGHBORS = ((HEX_W2, 0), (-HEX_W2, 0),
                 (HEX_W2 // 2, HEX_H2 // 2), (HEX_W2 // 2, -HEX_H2 // 2),
                 (-HEX_W2 // 2, HEX_H2 // 2), (-HEX_W2 // 2, -HEX_H2 // 2))


def q_hex_kring_smooth(spark: SparkSession, sf_dir: str,
                       n: int) -> DataFrame:
    """Hex k-ring stencil — neighborhood smoothing over the hex rollup
    (the hotspot-denoising pass a geo dashboard runs after binning):
    each cell's smoothed value = 2·own + Σ neighbors, computed as the
    STENCIL-AS-JOIN: the (tiny, bounded) cell table explodes onto its
    7 stencil positions via a broadcast offset relation and re-groups
    — never a 6-way self-join, and the raw stream is touched once by
    the underlying rollup. Neighbor offsets are the doubled-space
    vectors of the two-lattice tiling, whose 6-neighbor geometry the
    hexbin pytest proves by brute force.
    -> (hx, hy, n_events, smooth_sum) for OCCUPIED cells, ordered."""
    cells = q_hexbin_rollup(spark, sf_dir, n)
    offs = spark.createDataFrame(
        [(0, 0, 2)] + [(dx, dy, 1) for dx, dy in HEX_NEIGHBORS],
        "dx BIGINT, dy BIGINT, wt BIGINT")
    contrib = (cells.join(F.broadcast(offs))
               .select((F.col("hx") + F.col("dx")).alias("hx"),
                       (F.col("hy") + F.col("dy")).alias("hy"),
                       (F.col("value_sum") * F.col("wt")).alias("c")))
    return (cells.select("hx", "hy", "n_events")
            .join(contrib.groupBy("hx", "hy")
                  .agg(F.sum("c").alias("smooth_sum")), ["hx", "hy"])
            .select("hx", "hy", "n_events",
                    F.col("smooth_sum").cast("bigint"))
            .orderBy("hx", "hy"))


def oracle_hex_kring_smooth(n: int) -> str:
    from .events import geo_events_sql
    hx, hy = hexbin_sql("x", "y")
    offs = ",".join(["(0,0,2)"]
                    + [f"({dx},{dy},1)" for dx, dy in HEX_NEIGHBORS])
    return f"""
WITH geo AS ({geo_events_sql(n)}),
cells AS (
  SELECT hx, hy, COUNT(*) AS n_events, SUM(value) AS value_sum
  FROM (SELECT {hx} AS hx, {hy} AS hy, value FROM geo) GROUP BY 1, 2),
offs(dx, dy, wt) AS (VALUES {offs}),
contrib AS (
  SELECT hx + dx AS hx, hy + dy AS hy, value_sum * wt AS c
  FROM cells CROSS JOIN offs)
SELECT CAST(cells.hx AS BIGINT) AS hx, CAST(cells.hy AS BIGINT) AS hy,
       CAST(cells.n_events AS BIGINT) AS n_events,
       CAST(s.smooth_sum AS BIGINT) AS smooth_sum
FROM cells JOIN (SELECT hx, hy, SUM(c) AS smooth_sum
                 FROM contrib GROUP BY 1, 2) s
     ON cells.hx = s.hx AND cells.hy = s.hy
ORDER BY 1, 2
"""


def oracle_hex_cell_reader(n: int,
                           rect: tuple[int, int, int, int]) -> str:
    """Plain rect filter + hexbin rollup — independent of the cell-set
    rewrite under test (no candidate enumeration on this side)."""
    from .events import geo_events_sql
    x1, y1, x2, y2 = rect
    hx, hy = hexbin_sql("x", "y")
    return f"""
WITH geo AS ({geo_events_sql(n)}),
r AS (SELECT * FROM geo
      WHERE x BETWEEN {x1} AND {x2} AND y BETWEEN {y1} AND {y2}),
h AS (SELECT {hx} AS hx, {hy} AS hy, value FROM r)
SELECT CAST(hx AS BIGINT) AS hx, CAST(hy AS BIGINT) AS hy,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value) AS BIGINT) AS value_sum
FROM h GROUP BY 1, 2 ORDER BY 1, 2
"""
