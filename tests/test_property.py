"""Hypothesis property tests for the pure (no-Spark) kernels — the
closed-form/vectorized fast paths must be bit-identical to their simple
reference folds for ANY input, not just the seeds unit tests pick."""

import numpy as np
from hypothesis import given, settings, strategies as st

from spatialsketch_spark.core.dyadic import (
    canonical_cover, cover_2d, cover_2d_np)
from spatialsketch_spark.core.kernels import ECMKernel


@settings(max_examples=60, deadline=None)
@given(k=st.integers(1, 12), width=st.integers(1, 6),
       weight=st.sampled_from([1, 2, 3, 7, 25]), data=st.data())
def test_ecm_const_fold_equals_insert_fold_property(k, width, weight, data):
    # the fold engages only at m >= 4 * depth * width — draw n above
    # that so every example actually exercises _eh_from_sorted_const
    # (shorter streams are covered by the unit test's small-n cases).
    # weight ranges over constant values, not just 1: the closed form
    # must be bit-identical to the sequential fold for ANY uniform
    # weight (VERDICT r3 task 7)
    n = data.draw(st.integers(8 * width, 400))
    seed = data.draw(st.integers(0, 2 ** 16))
    kern_fast = ECMKernel(width=width, depth=2, k=k, seed=7)
    kern_slow = ECMKernel(width=width, depth=2, k=k, seed=7)
    rng = np.random.default_rng(seed)
    items = rng.integers(0, 30, n).astype(np.int64)
    # duplicate timestamps allowed — arrival order must still agree
    ts = np.sort(rng.integers(0, max(2, n // 2), n)).astype(np.int64)
    cells = np.zeros(n, dtype=np.int64)
    vals = np.full(n, weight, dtype=np.int64)
    _, fast = kern_fast.build_grouped(cells, items, vals, ts)
    cap = ECMKernel._UNIT_FOLD_MAX
    ECMKernel._UNIT_FOLD_MAX = 0
    try:
        _, slow = kern_slow.build_grouped(cells, items, vals, ts)
    finally:
        ECMKernel._UNIT_FOLD_MAX = cap
    assert fast[0] == slow[0]


@settings(max_examples=80, deadline=None)
@given(log_n=st.integers(2, 8), floor_k=st.integers(0, 3),
       data=st.data())
def test_cover_2d_np_equals_scalar_property(log_n, floor_k, data):
    """The batched cover emits exactly cover_2d's elements, in its order,
    per rect of a batch, including ranges that are reversed or lie
    partly or wholly off the grid."""
    n = 1 << log_n
    coord = st.integers(-n // 2, n + n // 2)
    rects = data.draw(st.lists(st.tuples(coord, coord, coord, coord),
                               min_size=1, max_size=6))
    fk = min(floor_k, log_n)
    ridx, kx, ky, cx, cy, cov = cover_2d_np(rects, log_n, fk)
    got = list(zip(ridx.tolist(), kx.tolist(), ky.tolist(), cx.tolist(),
                   cy.tolist(), cov.tolist()))
    want = [(i, *e) for i, r in enumerate(rects)
            for e in cover_2d(*r, log_n, fk, fk)]
    assert got == want


@settings(max_examples=80, deadline=None)
@given(log_n=st.integers(1, 10), floor_k=st.integers(0, 4), data=st.data())
def test_canonical_cover_partitions_range(log_n, floor_k, data):
    """Cover elements are disjoint, within-bounds, and their coverage
    mass sums exactly to the range length (the invariant the truncated
    estimate's envelope proof rests on)."""
    n = 1 << log_n
    a = data.draw(st.integers(0, n - 1))
    b = data.draw(st.integers(a, n - 1))
    fk = min(floor_k, log_n)
    cover = canonical_cover(a, b, log_n, fk)
    mass = 0.0
    seen = []
    for (lvl, start, covg) in cover:
        size = 1 << lvl
        assert start % size == 0
        assert 0 < covg <= 1.0
        mass += covg * size
        seen.append((start, start + size - 1))
    assert abs(mass - (b - a + 1)) < 1e-6
    seen.sort()
    for (s1, e1), (s2, e2) in zip(seen, seen[1:]):
        assert e1 < s2, "cover cells must be disjoint"
