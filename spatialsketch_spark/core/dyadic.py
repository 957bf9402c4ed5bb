"""Dyadic-interval machinery (0-indexed bit-arithmetic reformulation).

Reference semantics (1-indexed, search-based):
- point ladder: FindChildInterval, SpatialSketch.cpp:494-530
- canonical range cover with fractional coverage: ObtainIntervals /
  GetDyadicIntervals, SpatialSketch.cpp:634-752
- dropped-grid recursion (DynSketch): RecurseQueryDyadicInterval,
  SpatialSketch.cpp:802-832

Here everything is closed-form on 0-indexed coordinates:
level-k interval containing t is ``[t >> k << k, (t >> k << k) + 2^k - 1]``.
Equivalence with a literal transcription is established by exhaustive
small-N tests (tests/test_dyadic.py).

A *cover element* is ``(level, start, coverage)`` per axis; a 2-D cover
element is ``(kx, ky, cx, cy, coverage)`` where ``cx = x_start >> kx`` is
the cell index in grid (kx, ky) and coverage in (0, 1] is the fraction of
the cell overlapped by the query (SpatialSketch.cpp:660-676).
"""

from __future__ import annotations

import numpy as np


def point_ladder(t: int, log_n: int) -> list[tuple[int, int]]:
    """All dyadic (level, cell_index) pairs containing point t.

    Replaces the reference's binary descent (SpatialSketch.cpp:494-530)
    with shifts: cell index at level k is t >> k.
    """
    return [(k, t >> k) for k in range(log_n + 1)]


def point_ladder_np(ts: np.ndarray, log_n: int) -> np.ndarray:
    """Vectorized: (n_points, log_n+1) array of cell indices per level."""
    ts = np.asarray(ts, dtype=np.int64)
    ks = np.arange(log_n + 1, dtype=np.int64)
    return ts[:, None] >> ks[None, :]


def canonical_cover(a: int, b: int, log_n: int, floor_k: int = 0
                    ) -> list[tuple[int, int, float]]:
    """Minimal dyadic cover of inclusive integer range [a, b].

    Returns [(level, start, coverage)]. With floor_k == 0 this is the
    classic greedy canonical cover (<= 2*log_n intervals, coverage 1.0).
    With floor_k > 0 (DynSketch coarsened resolution: finest cell width is
    2^floor_k), sub-block remainders are emitted as the floor-level block
    containing them with fractional coverage = overlap / block
    (ObtainIntervals coverage path, SpatialSketch.cpp:660-676).
    """
    a = max(0, a)
    b = min((1 << log_n) - 1, b)
    if a > b:
        return []
    out: list[tuple[int, int, float]] = []
    if floor_k > 0:
        block = 1 << floor_k
        a_blk = a >> floor_k
        b_blk = b >> floor_k
        if a_blk == b_blk:
            cov = (b - a + 1) / block
            return [(floor_k, a_blk << floor_k, min(1.0, cov))]
        # partial head block
        if a & (block - 1):
            head_start = a_blk << floor_k
            out.append((floor_k, head_start, (head_start + block - a) / block))
            a = head_start + block
        # partial tail block
        tail_end = None
        if (b + 1) & (block - 1):
            tail_start = b_blk << floor_k
            tail_end = (floor_k, tail_start, (b - tail_start + 1) / block)
            b = tail_start - 1
        if a <= b:
            out.extend(_greedy(a, b, log_n, floor_k))
        if tail_end is not None:
            out.append(tail_end)
        return out
    return _greedy(a, b, log_n, 0)


def _greedy(a: int, b: int, log_n: int, floor_k: int) -> list[tuple[int, int, float]]:
    """Greedy canonical cover; a and b are floor-block aligned."""
    out = []
    while a <= b:
        # largest k with a aligned and interval fitting in [a, b]
        k = log_n
        while k > floor_k and ((a & ((1 << k) - 1)) != 0 or a + (1 << k) - 1 > b):
            k -= 1
        # at k == floor_k alignment is guaranteed by the caller
        while a + (1 << k) - 1 > b:
            k -= 1  # only possible when floor_k bound is loose at the end
        out.append((k, a, 1.0))
        a += 1 << k
    return out


def cover_2d(x1: int, y1: int, x2: int, y2: int, log_n: int,
             floor_kx: int = 0, floor_ky: int = 0,
             ) -> list[tuple[int, int, int, int, float]]:
    """2-D dyadic cover: cartesian product of per-axis covers
    (GetDyadicIntervals, SpatialSketch.cpp:684-752).

    Returns [(kx, ky, cx, cy, coverage)] with cx/cy the per-grid cell
    indices and coverage the product of the axis coverages.
    """
    xs = canonical_cover(x1, x2, log_n, floor_kx)
    ys = canonical_cover(y1, y2, log_n, floor_ky)
    out = []
    for kx, sx, covx in xs:
        for ky, sy, covy in ys:
            out.append((kx, ky, sx >> kx, sy >> ky, covx * covy))
    return out


def _log2_exact(x: np.ndarray) -> np.ndarray:
    """floor(log2(x)) for positive int64 values below 2^53."""
    return np.frexp(x.astype(np.float64))[1].astype(np.int64) - 1


def _canonical_cover_np(a, b, log_n: int, floor_k: int = 0):
    """``canonical_cover`` over many ranges at once. Returns
    ``(count, level, start, coverage)``: range i's elements, in
    ``canonical_cover``'s order, are ``level/start/coverage[o:o +
    count[i]]`` with ``o = (cumsum(count) - count)[i]``.

    The floor-level head and tail partials are one masked pass each; the
    greedy middle takes at most 2·log_n rounds over the ranges still
    open, each emitting the block ``k = min(ctz(a), floor(log2(b - a +
    1)))`` at ``a``."""
    n = 1 << log_n
    a = np.maximum(np.asarray(a, dtype=np.int64), 0)
    b = np.minimum(np.asarray(b, dtype=np.int64), n - 1)
    live = a <= b
    block = 1 << floor_k
    a_blk, b_blk = a >> floor_k, b >> floor_k
    single = live & (a_blk == b_blk)        # floor_k 0: a == b, level 0
    multi = live & ~single
    cut_head = multi & ((a & (block - 1)) != 0)
    tail = multi & (((b + 1) & (block - 1)) != 0)
    head = single | cut_head
    head_start, tail_start = a_blk << floor_k, b_blk << floor_k
    head_cov = np.where(single, b - a + 1, head_start + block - a) / block
    tail_cov = (b - tail_start + 1) / block
    ga = np.where(cut_head, head_start + block, a)
    gb = np.where(tail, tail_start - 1, b)
    # greedy middle: round r emits range idx[j]'s (r+1)-th middle block
    rounds, n_mid = [], np.zeros(len(a), dtype=np.int64)
    idx = np.flatnonzero(multi & (ga <= gb))
    ga, gb = ga[idx], gb[idx]
    while idx.size:
        ctz = np.where(ga == 0, log_n, _log2_exact(ga & -ga))
        k = np.minimum(ctz, _log2_exact(gb - ga + 1))
        rounds.append((idx, k, ga))
        n_mid[idx] += 1
        ga = ga + (np.int64(1) << k)
        more = ga <= gb
        idx, ga, gb = idx[more], ga[more], gb[more]
    count = head + n_mid + tail
    off = np.cumsum(count) - count
    total = int(count.sum())
    level = np.empty(total, dtype=np.int64)
    start = np.empty(total, dtype=np.int64)
    cov = np.ones(total, dtype=np.float64)
    at = off[head]
    level[at], start[at], cov[at] = floor_k, head_start[head], head_cov[head]
    for r, (r_idx, k, ga) in enumerate(rounds):
        at = off[r_idx] + head[r_idx] + r
        level[at], start[at] = k, ga
    at = off[tail] + count[tail] - 1
    level[at], start[at], cov[at] = floor_k, tail_start[tail], tail_cov[tail]
    return count, level, start, cov


def cover_2d_np(rects, log_n: int, floor_k: int = 0):
    """Batch 2-D covers as numpy arrays: rects is an iterable of
    (x1, y1, x2, y2); returns (rect_idx, kx, ky, cx, cy, coverage)
    int64/float64 arrays holding exactly ``cover_2d``'s elements per
    rect, in its order (asserted in tests). Both axes' covers come from
    one ``_canonical_cover_np`` call each; the per-rect cross product
    (x outer, y inner) is index arithmetic over their offsets."""
    r = np.asarray(rects, dtype=np.int64).reshape(-1, 4)
    nx, kx, sx, vx = _canonical_cover_np(r[:, 0], r[:, 2], log_n, floor_k)
    ny, ky, sy, vy = _canonical_cover_np(r[:, 1], r[:, 3], log_n, floor_k)
    m = nx * ny
    ridx = np.repeat(np.arange(len(r), dtype=np.int64), m)
    local = np.arange(len(ridx), dtype=np.int64) - np.repeat(
        np.cumsum(m) - m, m)
    ny_e = ny[ridx]
    xi = (np.cumsum(nx) - nx)[ridx] + local // ny_e
    yi = (np.cumsum(ny) - ny)[ridx] + local % ny_e
    return (ridx, kx[xi], ky[yi], sx[xi] >> kx[xi], sy[yi] >> ky[yi],
            vx[xi] * vy[yi])


def effective_cover(x1: int, y1: int, x2: int, y2: int, log_n: int,
                    dropped: frozenset | set = frozenset(),
                    floor_k: int = 0,
                    ) -> list[tuple[int, int, int, int, float]]:
    """2-D cover rewritten against the live grid set (DynSketch).

    Replaces the reference's query-time recursion on dropped grids
    (RecurseQueryDyadicInterval, SpatialSketch.cpp:802-832) with driver-
    side set arithmetic: any cover element whose grid (kx, ky) is dropped
    is split in half along its larger dimension until a live grid is hit
    or the floor resolution bottoms out (then it is answered by the
    floor-level grid with fractional coverage, matching the reference's
    coverage fallback).
    """
    work = cover_2d(x1, y1, x2, y2, log_n, floor_k, floor_k)
    out: list[tuple[int, int, int, int, float]] = []
    while work:
        kx, ky, cx, cy, cov = work.pop()
        if (kx, ky) not in dropped:
            out.append((kx, ky, cx, cy, cov))
            continue
        if kx <= floor_k and ky <= floor_k:
            # nothing finer exists; the reference cannot answer this cell
            # either — it never drops the floor grid, so this is unreachable
            # when `dropped` respects the invariant. Keep defensive.
            raise ValueError(f"grid ({kx},{ky}) dropped below floor resolution")
        if kx >= ky and kx > floor_k:
            work.append((kx - 1, ky, cx * 2, cy, cov))
            work.append((kx - 1, ky, cx * 2 + 1, cy, cov))
        else:
            work.append((kx, ky - 1, cx, cy * 2, cov))
            work.append((kx, ky - 1, cx, cy * 2 + 1, cov))
    return out


def cover_1d_items(a: int, b: int, log_domain: int) -> list[tuple[int, int]]:
    """Canonical cover of an item-id range for the dyadic-CM
    (DyadCountMin.cpp Query path). Returns [(level, prefix)]."""
    return [(k, s >> k) for k, s, _ in canonical_cover(a, b, log_domain, 0)]
