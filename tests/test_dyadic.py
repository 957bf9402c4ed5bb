"""Exhaustive small-N verification of the dyadic cover machinery
(SURVEY.md §7 'hard parts': the 0-indexed bit-arithmetic reformulation is
verified against direct enumeration)."""

import numpy as np
import pytest

from spatialsketch_spark.core.dyadic import (
    canonical_cover, cover_2d, effective_cover, point_ladder,
    point_ladder_np, cover_1d_items,
)


def interval_cells(level, start):
    return set(range(start, start + (1 << level)))


@pytest.mark.parametrize("log_n", [3, 4, 6])
def test_canonical_cover_exhaustive(log_n):
    n = 1 << log_n
    for a in range(n):
        for b in range(a, n):
            cov = canonical_cover(a, b, log_n)
            cells = set()
            for k, s, c in cov:
                assert c == 1.0
                assert s % (1 << k) == 0, "interval must be dyadic-aligned"
                seg = interval_cells(k, s)
                assert not (cells & seg), "cover must be disjoint"
                cells |= seg
            assert cells == set(range(a, b + 1))
            assert len(cov) <= 2 * log_n, "canonical cover size bound"


@pytest.mark.parametrize("log_n,floor_k", [(4, 1), (4, 2), (6, 3)])
def test_cover_with_resolution_floor(log_n, floor_k):
    """Fractional coverage: total covered mass equals the range length
    and every emitted interval is at level >= floor_k
    (ObtainIntervals coverage path, SpatialSketch.cpp:660-676)."""
    n = 1 << log_n
    for a in range(n):
        for b in range(a, n):
            cov = canonical_cover(a, b, log_n, floor_k)
            mass = 0.0
            for k, s, c in cov:
                assert k >= floor_k
                assert 0.0 < c <= 1.0
                assert s % (1 << k) == 0
                mass += c * (1 << k)
            assert mass == pytest.approx(b - a + 1)


def test_cover_2d_mass_and_disjointness():
    log_n = 4
    rng = np.random.default_rng(0)
    for _ in range(50):
        x1, x2 = sorted(rng.integers(0, 16, 2).tolist())
        y1, y2 = sorted(rng.integers(0, 16, 2).tolist())
        cov = cover_2d(x1, y1, x2, y2, log_n)
        cells = set()
        for kx, ky, cx, cy, c in cov:
            assert c == 1.0
            for xx in range(cx << kx, (cx + 1) << kx):
                for yy in range(cy << ky, (cy + 1) << ky):
                    assert (xx, yy) not in cells
                    cells.add((xx, yy))
        expect = {(xx, yy) for xx in range(x1, x2 + 1) for yy in range(y1, y2 + 1)}
        assert cells == expect


def test_point_ladder_matches_cover():
    log_n = 6
    for t in range(1 << log_n):
        lad = point_ladder(t, log_n)
        assert len(lad) == log_n + 1
        for k, cell in lad:
            assert (cell << k) <= t < ((cell + 1) << k)
    arr = point_ladder_np(np.arange(1 << log_n), log_n)
    for t in range(1 << log_n):
        assert [int(v) for v in arr[t]] == [c for _, c in point_ladder(t, log_n)]


def test_effective_cover_simulates_every_drop_state():
    """DynSketch rewrite equivalence: for every single-grid drop (and a
    few multi-drops) the effective cover still covers exactly the query
    cells (SpatialSketch.cpp:802-832 recursion, rewritten as set
    arithmetic)."""
    log_n = 3
    all_grids = [(i, j) for i in range(log_n + 1) for j in range(log_n + 1)]
    drops = [frozenset([g]) for g in all_grids if g != (0, 0)]
    drops += [frozenset({(i, j) for (i, j) in all_grids if (i + j) % 2 == 1})]
    for dropped in drops:
        for (x1, y1, x2, y2) in [(0, 0, 7, 7), (1, 2, 6, 5), (3, 3, 3, 3), (0, 5, 7, 6)]:
            cov = effective_cover(x1, y1, x2, y2, log_n, dropped)
            cells = set()
            for kx, ky, cx, cy, c in cov:
                assert (kx, ky) not in dropped
                assert c == 1.0
                for xx in range(cx << kx, (cx + 1) << kx):
                    for yy in range(cy << ky, (cy + 1) << ky):
                        assert (xx, yy) not in cells
                        cells.add((xx, yy))
            expect = {(xx, yy) for xx in range(x1, x2 + 1) for yy in range(y1, y2 + 1)}
            assert cells == expect


def test_cover_1d_items():
    for a, b in [(0, 255), (5, 9), (7, 7), (1, 254)]:
        cells = set()
        for lvl, pref in cover_1d_items(a, b, 8):
            seg = set(range(pref << lvl, (pref + 1) << lvl))
            assert not (cells & seg)
            cells |= seg
        assert cells == set(range(a, b + 1))


def test_cover_2d_np_matches_scalar():
    """The batched numpy cover (large-query-batch fast path) must emit
    exactly the scalar cover_2d elements per rect, every floor_k."""
    import numpy as np
    from spatialsketch_spark.core.dyadic import cover_2d, cover_2d_np
    rng = np.random.default_rng(5)
    rects = []
    for _ in range(300):
        x1, x2 = sorted(rng.integers(0, 256, 2).tolist())
        y1, y2 = sorted(rng.integers(0, 256, 2).tolist())
        rects.append((x1, y1, x2, y2))
    for fk in (0, 3, 4):
        ridx, kx, ky, cx, cy, cov = cover_2d_np(rects, 8, fk)
        for i, r in enumerate(rects):
            want = cover_2d(*r, 8, fk, fk)
            m = ridx == i
            got = list(zip(kx[m].tolist(), ky[m].tolist(),
                           cx[m].tolist(), cy[m].tolist(),
                           cov[m].tolist()))
            assert got == want, (fk, r)


def test_off_grid_range_emits_no_cell():
    """A range entirely off the grid covers nothing, at any floor level
    (clamping first: before, a floor-level block outside [0, N) came
    out); a partly off-grid range covers its on-grid part."""
    from spatialsketch_spark.core.dyadic import cover_2d_np
    assert canonical_cover(-2, -2, 4, 1) == []
    assert canonical_cover(17, 17, 4, 2) == []
    assert canonical_cover(-5, -1, 4, 0) == []
    assert canonical_cover(-3, 2, 4, 1) == canonical_cover(0, 2, 4, 1)
    assert canonical_cover(13, 40, 4, 2) == canonical_cover(13, 15, 4, 2)
    assert len(cover_2d_np([(-2, 0, -2, 3), (0, 17, 3, 17)], 4, 1)[0]) == 0
