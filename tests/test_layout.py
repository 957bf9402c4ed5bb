"""Z-order layout operator (geo/layout.py)."""

from pyspark.sql import functions as F

from conftest import SF_UNIT


def test_zorder_bucket_is_spatial_block(spark):
    """The locality contract: with 64 buckets on the 4096 grid, an
    event's bucket is EXACTLY the Morton code of its (x div 512,
    y div 512) block — range-bucketing by zval therefore stores each
    512×512 spatial block contiguously, which is what turns a
    rectangle query into a handful of contiguous scan ranges at
    100 TB."""
    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.events import derive_geo_events
    from spatialsketch_spark.geo.layout import zorder_col

    geo = derive_geo_events(spark, SF_UNIT, N, spread=False)
    width = (1 << 24) // 64
    bad = (geo.withColumn("zval", zorder_col(F.col("x"), F.col("y")))
           .withColumn("bucket", F.expr(f"zval div {width}"))
           .withColumn("blk", zorder_col(F.expr("x div 512"),
                                         F.expr("y div 512")))
           .where(F.col("bucket") != F.col("blk")).count())
    assert bad == 0


def test_zorder_col_interleaves_31_bit_coordinates(spark):
    """zorder_col is the build's range key for any grid: it must equal a
    bit-by-bit interleave (x even, y odd) for coordinates past 16 bits
    too, up to 2^31 - 1, where a 32-bit spread would drop the high
    bits."""
    from spatialsketch_spark.geo.layout import zorder_col

    def morton(x, y):
        return sum(((x >> b & 1) << 2 * b) | ((y >> b & 1) << 2 * b + 1)
                   for b in range(31))

    top = (1 << 31) - 1
    pts = [(0, 0), (1, 0), (0, 1), (4095, 4095), (65535, 65536),
           (1 << 16, 3), (123456789, 987654321), (top, top), (top, 0)]
    df = spark.createDataFrame(pts, "x INT, y INT")
    got = [r["z"] for r in df.select(
        zorder_col(F.col("x"), F.col("y")).alias("z")).collect()]
    assert got == [morton(x, y) for x, y in pts]


def test_zorder_layout_prunes_partitions(spark, tmp_path):
    """The 100 TB claim made concrete: write the events bucket-
    partitioned by Morton block, rewrite a rectangle query with
    `zorder_rect_buckets` (bucket IN (...) + the residual rect
    predicate), and the scan must (a) show the bucket predicate as a
    PartitionFilter — static partition pruning, only matching
    directories listed/read — and (b) return exactly the full-scan
    answer."""
    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.events import derive_geo_events
    from spatialsketch_spark.geo.layout import (zorder_col,
                                                zorder_rect_buckets)

    geo = derive_geo_events(spark, SF_UNIT, N, spread=False)
    width = (1 << 24) // 64
    out = str(tmp_path / "zsorted")
    (geo.withColumn("zval", zorder_col(F.col("x"), F.col("y")))
        .withColumn("bucket", F.expr(f"zval div {width}"))
        .drop("zval")
        .write.partitionBy("bucket").mode("overwrite").parquet(out))
    t = spark.read.parquet(out)
    x1, y1, x2, y2 = 700, 900, 1800, 2600
    rect = (F.col("x").between(x1, x2) & F.col("y").between(y1, y2))
    bks = zorder_rect_buckets(x1, y1, x2, y2)
    assert 0 < len(bks) < 64
    pruned = t.where(F.col("bucket").isin(bks) & rect)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert pruned.count() == t.where(rect).count()


def test_zorder_codegen_no_python_stage(spark):
    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.layout import q_zorder_layout

    p = q_zorder_layout(spark, SF_UNIT, N)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_geohash_matches_reference_bisection_encoder(spark):
    """Our bit-spread geohash must equal the PUBLIC geohash algorithm
    (successive interval bisection, lon first) character for character
    — so downstream systems can join on it."""
    from spatialsketch_spark.geo.layout import (GEOHASH_B32,
                                                GEOHASH_BITS,
                                                geohash_col)

    def ref_geohash(lon, lat, length=8):
        lat_i = [-90.0, 90.0]
        lon_i = [-180.0, 180.0]
        bits = []
        even = True
        while len(bits) < length * 5:
            iv = lon_i if even else lat_i
            v = lon if even else lat
            mid = (iv[0] + iv[1]) / 2
            if v >= mid:
                bits.append(1)
                iv[0] = mid
            else:
                bits.append(0)
                iv[1] = mid
            even = not even
        out = ""
        for j in range(length):
            c = 0
            for b in bits[5 * j:5 * j + 5]:
                c = c * 2 + b
            out += GEOHASH_B32[c]
        return out

    m = 1 << GEOHASH_BITS
    rows = [(i, (i * 48271) % m, (i * 16807 + 13) % m)
            for i in range(300)]
    df = spark.createDataFrame(rows, "i bigint, kx bigint, ky bigint")
    got = {r["i"]: r["gh"] for r in df.select(
        "i", geohash_col(F.col("kx"), F.col("ky")).alias("gh")).collect()}
    for i, kx, ky in rows:
        lon = -180.0 + 360.0 * (kx / m)
        lat = -90.0 + 180.0 * (ky / m)
        assert got[i] == ref_geohash(lon, lat), (i, kx, ky)


def test_hilbert_matches_public_algorithm(spark):
    """hilbert_col must equal the public xy2d fold (Wikipedia Hilbert
    curve) value-for-value, and be injective (a space-filling curve is
    a bijection) on the sample."""
    import random
    from spatialsketch_spark.geo.layout import (HILBERT_BITS,
                                                hilbert_col,
                                                hilbert_xy2d_py)
    n = 1 << HILBERT_BITS
    random.seed(5)
    pts = [(random.randrange(n), random.randrange(n)) for _ in range(400)]
    pts += [(0, 0), (n - 1, 0), (0, n - 1), (n - 1, n - 1), (1, 0), (0, 1)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r.x, r.y): r.hd for r in hilbert_col(df).collect()}
    for (x, y), hd in got.items():
        assert hd == hilbert_xy2d_py(n, x, y), (x, y, hd)
        assert 0 <= hd < n * n
    assert len(set(got.values())) == len(got)
    p = hilbert_col(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_hilbert_beats_morton_fragmentation():
    """The reason to offer Hilbert next to Morton: a rectangle query
    over a curve-ordered layout reads one contiguous range per RUN of
    consecutive curve indices inside the rect — fewer runs = fewer
    seeks / bigger coalesced reads. Hilbert (no Z-jumps) must produce
    fewer runs than Morton summed over a set of random rects on a
    64x64 grid (pure-python check against the same reference fold)."""
    import random
    from spatialsketch_spark.geo.layout import (_spread_py,
                                                hilbert_xy2d_py)

    def runs(codes):
        cs = sorted(codes)
        return 1 + sum(1 for a, b in zip(cs, cs[1:]) if b != a + 1)

    n = 64
    random.seed(9)
    h_runs = m_runs = 0
    for _ in range(40):
        x1 = random.randrange(n - 8); y1 = random.randrange(n - 8)
        x2 = x1 + random.randrange(4, n - x1)
        y2 = y1 + random.randrange(4, n - y1)
        cells = [(x, y) for x in range(x1, x2 + 1)
                 for y in range(y1, y2 + 1)]
        h_runs += runs([hilbert_xy2d_py(n, x, y) for x, y in cells])
        m_runs += runs([_spread_py(x) | (_spread_py(y) << 1)
                        for x, y in cells])
    assert h_runs < m_runs, (h_runs, m_runs)


def test_hilbert_layout_prunes_partitions(spark, tmp_path):
    """Hilbert twin of the zorder pruning proof: (a) the bucket id of
    every event equals the coarse-grid Hilbert index of its block
    (the self-similarity fact hilbert_rect_buckets relies on),
    (b) writing bucket-partitioned and rewriting a rect query with
    `bucket IN (hilbert_rect_buckets(...))` shows static partition
    pruning AND returns exactly the full-scan answer."""
    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.events import derive_geo_events
    from spatialsketch_spark.geo.layout import (HILBERT_BITS,
                                                hilbert_col,
                                                hilbert_rect_buckets,
                                                hilbert_xy2d_py)
    geo = derive_geo_events(spark, SF_UNIT, N, spread=False)
    width = (1 << (2 * HILBERT_BITS)) // 64
    out = str(tmp_path / "hsorted")
    hb = (hilbert_col(geo)
          .withColumn("bucket", F.expr(f"hd div {width}")))
    # (a) bucket == coarse Hilbert index of the (x div blk, y div blk)
    # block, checked on a sample
    blk = (1 << HILBERT_BITS) // 8
    sample = hb.select("x", "y", "bucket").limit(200).collect()
    for r in sample:
        assert r["bucket"] == hilbert_xy2d_py(8, r["x"] // blk,
                                              r["y"] // blk)
    hb.drop("hd").write.partitionBy("bucket").mode("overwrite") \
        .parquet(out)
    t = spark.read.parquet(out)
    x1, y1, x2, y2 = 700, 900, 1800, 2600
    rect = (F.col("x").between(x1, x2) & F.col("y").between(y1, y2))
    bks = hilbert_rect_buckets(x1, y1, x2, y2)
    assert 0 < len(bks) < 64
    pruned = t.where(F.col("bucket").isin(bks) & rect)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert pruned.count() == t.where(rect).count()


def test_hilbert_rect_buckets_validation():
    import pytest
    from spatialsketch_spark.geo.layout import (HILBERT_BITS,
                                                hilbert_rect_buckets)
    lim = 1 << HILBERT_BITS
    with pytest.raises(ValueError, match="reversed"):
        hilbert_rect_buckets(10, 0, 5, 5)
    with pytest.raises(ValueError, match="outside"):
        hilbert_rect_buckets(0, 0, lim, 5)
    with pytest.raises(ValueError, match="power of 4"):
        hilbert_rect_buckets(0, 0, 5, 5, buckets=32)
    assert hilbert_rect_buckets(0, 0, 0, 0) == [0]


def test_bucket_ranges_roundtrip_and_locality():
    """coalesce_buckets must (a) round-trip to exactly the IN-list id
    set, (b) stay SMALL: over random rects the Hilbert range count
    never exceeds the bucket count it compresses and beats Morton in
    total (the fragmentation property, now measured on the actual
    reader API at the real 4096-grid / 256-bucket shape)."""
    import random
    import pytest
    from spatialsketch_spark.geo.layout import (
        coalesce_buckets, hilbert_rect_buckets, hilbert_rect_ranges,
        zorder_rect_buckets, zorder_rect_ranges)

    assert coalesce_buckets([9, 3, 1, 2, 10, 7]) == [(1, 3), (7, 7),
                                                     (9, 10)]
    with pytest.raises(ValueError, match="empty"):
        coalesce_buckets([])

    random.seed(11)
    h_total = z_total = 0
    for _ in range(30):
        x1 = random.randrange(3500); y1 = random.randrange(3500)
        x2 = x1 + random.randrange(64, 4096 - x1)
        y2 = y1 + random.randrange(64, 4096 - y1)
        for fb, fr in ((hilbert_rect_buckets, hilbert_rect_ranges),
                       (zorder_rect_buckets, zorder_rect_ranges)):
            ids = fb(x1, y1, x2, y2, 256)
            rngs = fr(x1, y1, x2, y2, 256)
            got = sorted(set().union(
                *[range(lo, hi + 1) for lo, hi in rngs]))
            assert got == ids, (x1, y1, x2, y2, fb.__name__)
            assert len(rngs) <= len(ids)
        h_total += len(hilbert_rect_ranges(x1, y1, x2, y2, 256))
        z_total += len(zorder_rect_ranges(x1, y1, x2, y2, 256))
    assert h_total < z_total, (h_total, z_total)
    # the whole-grid rect is ONE range under either curve
    assert hilbert_rect_ranges(0, 0, 4095, 4095, 256) == [(0, 255)]
    assert zorder_rect_ranges(0, 0, 4095, 4095, 256) == [(0, 255)]


def test_bucket_range_predicate_prunes_partitions(spark, tmp_path):
    """The OR-of-BETWEEN rewrite must keep static partition pruning
    (PartitionFilters on bucket) and return exactly the IN-list
    answer — same proof as the IN form, with a predicate whose size
    is O(#runs) instead of O(#buckets): the form a reader uses when a
    continent-sized rect touches thousands of fine buckets."""
    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.events import derive_geo_events
    from spatialsketch_spark.geo.layout import (
        HILBERT_BITS, bucket_range_predicate, hilbert_col,
        hilbert_rect_buckets, hilbert_rect_ranges)

    geo = derive_geo_events(spark, SF_UNIT, N, spread=False)
    width = (1 << (2 * HILBERT_BITS)) // 64
    out = str(tmp_path / "hranges")
    (hilbert_col(geo)
     .withColumn("bucket", F.expr(f"hd div {width}"))
     .drop("hd")
     .write.partitionBy("bucket").mode("overwrite").parquet(out))
    t = spark.read.parquet(out)
    x1, y1, x2, y2 = 0, 900, 3900, 2600     # wide rect: many buckets
    rect = (F.col("x").between(x1, x2) & F.col("y").between(y1, y2))
    ids = hilbert_rect_buckets(x1, y1, x2, y2)
    rngs = hilbert_rect_ranges(x1, y1, x2, y2)
    assert len(rngs) < len(ids)             # compression is real here
    pruned = t.where(bucket_range_predicate(rngs) & rect)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:300]
    assert (pruned.count()
            == t.where(F.col("bucket").isin(ids) & rect).count()
            == t.where(rect).count())


def test_hilbert_d2xy_inverse_and_unit_steps():
    """d2xy is the exact inverse of xy2d over the full 64x64 grid; a
    curve segment enumerates to cells where CONSECUTIVE cells differ
    by exactly one grid step (Hilbert's defining locality, the reason
    bucket ranges map to connected regions); bounds are validated."""
    import pytest
    from spatialsketch_spark.geo.layout import (
        hilbert_d2xy_py, hilbert_range_cells, hilbert_xy2d_py)
    n = 64
    for d in range(n * n):
        x, y = hilbert_d2xy_py(n, d)
        assert hilbert_xy2d_py(n, x, y) == d
    cells = hilbert_range_cells(n, 100, 300)
    assert len(cells) == 201 and len(set(cells)) == 201
    for (x0, y0), (x1, y1) in zip(cells, cells[1:]):
        assert abs(x0 - x1) + abs(y0 - y1) == 1
    with pytest.raises(ValueError, match="outside"):
        hilbert_d2xy_py(n, n * n)
    with pytest.raises(ValueError, match="reversed"):
        hilbert_range_cells(n, 5, 4)


def test_hexbin_nearest_center_and_six_neighbors():
    """hexbin_py must pick the TRUE nearest center over both staggered
    lattices (brute-forced over a center neighborhood, lattice-A
    preference on exact ties), and the tiling must actually be
    hexagonal: every interior cell touches exactly SIX distinct
    neighbor cells (a rectangular tiling would touch 4 edge + 4
    corner = 8 by the same adjacency probe, a brick/offset-rect
    tiling 6 only if the aspect is right — this pins the geometry,
    not just the arithmetic)."""
    from spatialsketch_spark.geo.layout import (
        HEX_H2, HEX_W2, hexbin_py)

    def centers_near(X, Y):
        out = []
        for i in range(X // HEX_W2 - 2, X // HEX_W2 + 3):
            for j in range(Y // HEX_H2 - 2, Y // HEX_H2 + 3):
                out.append((i * HEX_W2, j * HEX_H2))
                out.append((i * HEX_W2 + HEX_W2 // 2,
                            j * HEX_H2 + HEX_H2 // 2))
        return out

    import random
    random.seed(5)
    for _ in range(500):
        x, y = random.randrange(2000), random.randrange(2000)
        cx, cy = hexbin_py(x, y)
        X, Y = 2 * x, 2 * y
        d2 = (X - cx) ** 2 + (Y - cy) ** 2
        best = min((X - a) ** 2 + (Y - b) ** 2
                   for a, b in centers_near(X, Y))
        assert d2 == best, (x, y, cx, cy, d2, best)

    # adjacency probe: walk a dense grid, record each point's cell and
    # the cells of its 4-neighbors; interior cells must see exactly 6
    # distinct others
    cell = {}
    for x in range(0, 1400):
        for y in range(0, 1200):
            cell[(x, y)] = hexbin_py(x, y)
    from collections import defaultdict
    nbrs = defaultdict(set)
    for (x, y), c in cell.items():
        for dx, dy in ((1, 0), (0, 1)):
            o = cell.get((x + dx, y + dy))
            if o is not None and o != c:
                nbrs[c].add(o)
                nbrs[o].add(c)
    interior = [c for c in nbrs
                if 400 < c[0] < 2200 and 400 < c[1] < 1800]
    assert len(interior) >= 12
    assert all(len(nbrs[c]) == 6 for c in interior), \
        sorted((c, len(nbrs[c])) for c in interior)[:4]


def test_hex_rect_cells_superset_tight_and_pushdown(spark, tmp_path):
    """The hex reader rewrite's three contracts: (1) hex_rect_cells is
    a SUPERSET of the truly-touched cell set (brute-forced via
    hexbin_py over every integer point of the rect) — the property
    that makes `cell-set predicate AND exact residual == plain rect
    filter`; (2) it is TIGHT — every extra candidate is a boundary
    cell (center within one assignment radius of the rect), so the
    predicate stays O(rect-area / hex-area); (3) the single-int64 key
    predicate reaches the parquet scan as a pushed In filter and the
    rewritten query returns exactly the plain-rect answer."""
    import math

    import pytest

    from spatialsketch_spark.gate import N
    from spatialsketch_spark.geo.events import derive_geo_events
    from spatialsketch_spark.geo.layout import (
        _HEX_D2, _HEX_OFF, _HEX_SHIFT, hex_key_py, hex_rect_cells,
        hexbin_cols, hexbin_py)

    x1, y1, x2, y2 = 37, 55, 400, 310
    touched = {hexbin_py(x, y)
               for x in range(x1, x2 + 1) for y in range(y1, y2 + 1)}
    cand = set(hex_rect_cells(x1, y1, x2, y2))
    assert touched <= cand, sorted(touched - cand)[:4]
    # tightness: every candidate center is within the assignment radius
    # of the (doubled-space) rect — only the boundary ring is extra
    D = math.isqrt(_HEX_D2) + 1
    for cx, cy in cand:
        dx = max(2 * x1 - cx, 0, cx - 2 * x2)
        dy = max(2 * y1 - cy, 0, cy - 2 * y2)
        assert dx <= D and dy <= D
    assert len(cand) <= len(touched) + 60      # ring, not area, overhead
    with pytest.raises(ValueError, match="reversed"):
        hex_rect_cells(5, 0, 4, 10)

    lay = hexbin_cols(derive_geo_events(spark, SF_UNIT, N, spread=False)) \
        .withColumn("hkey", (F.col("hx") + _HEX_OFF) * _HEX_SHIFT
                            + (F.col("hy") + _HEX_OFF))
    out = str(tmp_path / "hexlay")
    lay.write.mode("overwrite").parquet(out)
    t = spark.read.parquet(out)
    rx1, ry1, rx2, ry2 = 512, 768, 2300, 1900
    keys = [hex_key_py(hx, hy) for hx, hy in
            hex_rect_cells(rx1, ry1, rx2, ry2)]
    rect = (F.col("x").between(rx1, rx2) & F.col("y").between(ry1, ry2))
    rewritten = t.where(F.col("hkey").isin(keys)).where(rect)
    plan = rewritten._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "hkey" in pushed and "In(" in pushed
    assert rewritten.count() == t.where(rect).count() > 0


def test_hilbert_tables_match_recurrence_exhaustively():
    """r8 optimization pin: the fused 2-level lookup tables ARE the
    public xy2d recurrence, proven exhaustively for every grid up to
    64x64 (covers both the even-bit pair fold and the odd-bit tail)
    and by random sample at the production 12-bit grid."""
    import random
    from spatialsketch_spark.geo.layout import (_hilbert_tables,
                                                HILBERT_BITS,
                                                hilbert_xy2d_py)
    pair_tbl, single_tbl = _hilbert_tables()

    def fold(nbits, x, y):
        st = hd = 0
        bit = nbits - 1
        while bit >= 1:
            b4 = (((x >> bit) & 1) * 8 + ((y >> bit) & 1) * 4
                  + ((x >> (bit - 1)) & 1) * 2 + ((y >> (bit - 1)) & 1))
            v = pair_tbl[st * 16 + b4]
            hd, st = hd * 16 + (v % 16), v >> 4
            bit -= 2
        if bit == 0:
            v = single_tbl[st * 4 + (x & 1) * 2 + (y & 1)]
            hd, st = hd * 4 + (v % 4), v >> 2
        return hd

    for nbits in range(1, 7):
        n = 1 << nbits
        for x in range(n):
            for y in range(n):
                assert fold(nbits, x, y) == hilbert_xy2d_py(n, x, y)
    n = 1 << HILBERT_BITS
    random.seed(11)
    for _ in range(5000):
        x, y = random.randrange(n), random.randrange(n)
        assert fold(HILBERT_BITS, x, y) == hilbert_xy2d_py(n, x, y)
