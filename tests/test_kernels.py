"""Sketch kernels vs naive dict counters (SURVEY.md §5 plan (a)):
exactness of the exact kernel, CM overestimate-never-underestimate +
eps bound, FM/BF statistical envelopes, ECM window semantics, dyadic-CM
range queries, and — crucially for the Spark build — merge/partition
invariance (the map-side-combine correctness property)."""

import numpy as np
import pytest

from spatialsketch_spark.core.kernels import (
    ExactKernel, CMKernel, FMKernel, BFKernel, ECMKernel, DCMKernel,
)


def rand_events(n, item_domain, seed):
    rng = np.random.default_rng(seed)
    cells = rng.integers(0, 4, n).astype(np.int64)
    items = rng.integers(0, item_domain, n).astype(np.int64)
    values = np.ones(n, dtype=np.int64)
    ts = np.arange(1, n + 1, dtype=np.int64)
    return cells, items, values, ts


def split_build_merge(kernel, cells, items, values, ts, n_parts=4):
    """Build partials on row-chunks (simulating Spark partitions) then
    merge per cell — must equal a single-shot build."""
    chunks = np.array_split(np.arange(len(cells)), n_parts)
    partials = {}
    for ch in chunks:
        if len(ch) == 0:
            continue
        uc, states = kernel.build_grouped(cells[ch], items[ch], values[ch], ts[ch])
        for c, s in zip(uc.tolist(), states):
            partials.setdefault(c, []).append(s)
    return {c: kernel.merge(ss) for c, ss in partials.items()}


def test_exact_kernel_counts_and_merge_invariance():
    cells, items, values, ts = rand_events(2000, 50, 1)
    k = ExactKernel()
    merged = split_build_merge(k, cells, items, values, ts)
    uc, states = k.build_grouped(cells, items, values, ts)
    single = dict(zip(uc.tolist(), states))
    for c in single:
        for item in range(50):
            truth = int(values[(cells == c) & (items == item)].sum())
            assert k.query_item(single[c], item) == truth
            assert k.query_item(merged[c], item) == truth
        # windowed
        t0 = 1000
        truth_w = int(values[(cells == c) & (ts >= t0)].sum())
        got = k.query_item(merged[c], 0, 49, t0=t0)
        assert got == truth_w
        assert set(k.distinct_items(merged[c])) == set(items[cells == c].tolist())


def test_cm_bounds_and_merge():
    cells, items, values, ts = rand_events(5000, 400, 2)
    k = CMKernel(width=28, depth=3, seed=7)
    merged = split_build_merge(k, cells, items, values, ts)
    uc, states = k.build_grouped(cells, items, values, ts)
    for c, st in zip(uc.tolist(), states):
        np.testing.assert_array_equal(st, merged[c])
        n_cell = int((cells == c).sum())
        for item in [0, 7, 123, 399]:
            truth = int(values[(cells == c) & (items == item)].sum())
            est = k.query_item(st, item)
            assert est >= truth, "CM never underestimates"
            assert est <= truth + np.e / 28 * n_cell * 3  # loose eps bound
    # serialize roundtrip
    st2 = k.deserialize(k.serialize(states[0]))
    np.testing.assert_array_equal(st2, states[0])


def test_cm_l2_estimate():
    rng = np.random.default_rng(3)
    items = rng.zipf(1.5, 5000).astype(np.int64) % 1000
    cells = np.zeros(5000, dtype=np.int64)
    k = CMKernel(width=128, depth=5, seed=7)
    uc, states = k.build_grouped(cells, items, np.ones(5000, dtype=np.int64),
                                 np.arange(5000, dtype=np.int64))
    _, counts = np.unique(items, return_counts=True)
    truth = int((counts.astype(np.float64) ** 2).sum())
    est = k.l2_estimate(states[0])
    assert est >= truth
    assert est <= truth * 1.5


def test_fm_estimate_envelope_and_merge():
    k = FMKernel(eps=0.3, delta=0.05, seed=7)
    n_distinct = 3000
    items = np.arange(n_distinct, dtype=np.int64)
    cells = np.zeros(n_distinct, dtype=np.int64)
    merged = split_build_merge(k, cells, items, np.ones(n_distinct, dtype=np.int64),
                               np.arange(n_distinct, dtype=np.int64))
    est = k.estimate(merged[0])
    assert 0.25 * n_distinct <= est <= 4.0 * n_distinct  # FM is coarse (powers of 2)
    uc, states = k.build_grouped(cells, items, np.ones(n_distinct, dtype=np.int64),
                                 np.arange(n_distinct, dtype=np.int64))
    np.testing.assert_array_equal(states[0], merged[0])


def test_bf_no_false_negatives_and_fpr():
    k = BFKernel(expected_n=2000, delta=0.05, seed=7)
    items = np.arange(0, 2000, 2, dtype=np.int64)  # evens present
    cells = np.zeros(len(items), dtype=np.int64)
    merged = split_build_merge(k, cells, items, np.ones(len(items), dtype=np.int64),
                               np.arange(len(items), dtype=np.int64))
    st = merged[0]
    for v in items[:200]:
        assert k.member(st, int(v)), "no false negatives"
    fps = sum(k.member(st, v) for v in range(1, 2001, 2))
    assert fps / 1000 < 0.15


def test_ecm_exact_window_when_k_huge():
    """With capacity k larger than the stream, EH buckets never merge and
    HistSum is exact."""
    k = ECMKernel(width=64, depth=2, k=1 << 30, seed=7)
    n = 500
    items = np.zeros(n, dtype=np.int64)
    cells = np.zeros(n, dtype=np.int64)
    ts = np.arange(1, n + 1, dtype=np.int64)
    uc, states = k.build_grouped(cells, items, np.ones(n, dtype=np.int64), ts)
    for t0 in [1, 100, 250, 500]:
        assert k.query_item(states[0], 0, t0=t0) == n - t0 + 1


def test_ecm_realistic_window_error_bound():
    k = ECMKernel(width=64, depth=2, k=8, seed=7)  # eps_ecm = 1/8
    n = 2000
    items = np.zeros(n, dtype=np.int64)
    cells = np.zeros(n, dtype=np.int64)
    ts = np.arange(1, n + 1, dtype=np.int64)
    uc, states = k.build_grouped(cells, items, np.ones(n, dtype=np.int64), ts)
    for t0 in [500, 1000, 1900]:
        truth = n - t0 + 1
        est = k.query_item(states[0], 0, t0=t0)
        assert abs(est - truth) <= max(2, 0.3 * truth)


def test_ecm_merge_matches_reference_semantics():
    """Partition-split build + MergeECM-style merge approximates the
    single-shot build (the reference's ECM_merge mode trades accuracy for
    mergeability; with huge k both are exact)."""
    k = ECMKernel(width=16, depth=2, k=1 << 30, seed=7)
    n = 400
    rng = np.random.default_rng(5)
    items = rng.integers(0, 30, n).astype(np.int64)
    cells = np.zeros(n, dtype=np.int64)
    ts = np.arange(1, n + 1, dtype=np.int64)
    merged = split_build_merge(k, cells, items, np.ones(n, dtype=np.int64), ts)
    uc, states = k.build_grouped(cells, items, np.ones(n, dtype=np.int64), ts)
    single = states[0]
    for item in range(0, 30, 5):
        for t0 in [1, 200]:
            truth = int(((items == item) & (ts >= t0)).sum())
            est_m = k.query_item(merged[0], item, t0=t0)
            est_s = k.query_item(single, item, t0=t0)
            # CM-style overestimate (hash collisions), never under
            assert est_m >= truth and est_s >= truth
            # merge-path must agree with the single-shot build: with huge k
            # every bucket stays a singleton, so both are the same multiset
            assert est_m == est_s


def test_dcm_range_queries():
    k = DCMKernel(log_domain=8, width=64, depth=3, exact_levels=9, seed=7)
    # all-exact levels -> exact range answers
    rng = np.random.default_rng(6)
    items = rng.integers(0, 256, 3000).astype(np.int64)
    cells = np.zeros(3000, dtype=np.int64)
    merged = split_build_merge(k, cells, items, np.ones(3000, dtype=np.int64),
                               np.arange(3000, dtype=np.int64))
    for a, b in [(0, 255), (10, 20), (7, 7), (100, 250)]:
        truth = int(((items >= a) & (items <= b)).sum())
        assert k.query_range(merged[0], a, b) == truth


def test_dcm_mixed_levels_overestimates_bounded():
    k = DCMKernel(log_domain=8, width=512, depth=4, exact_levels=3, seed=7)
    rng = np.random.default_rng(7)
    items = rng.integers(0, 256, 3000).astype(np.int64)
    cells = np.zeros(3000, dtype=np.int64)
    uc, states = k.build_grouped(cells, items, np.ones(3000, dtype=np.int64),
                                 np.arange(3000, dtype=np.int64))
    for a, b in [(10, 200), (0, 127), (5, 9)]:
        truth = int(((items >= a) & (items <= b)).sum())
        est = k.query_range(states[0], a, b)
        assert est >= truth
        assert est <= truth + 0.2 * 3000


def test_payload_codecs_roundtrip():
    """Raw-buffer payload codecs (the pickle replacement on the query
    hot path): exact + CM dense/sparse roundtrip, batch deserialize,
    batched probe == scalar probe."""
    import numpy as np
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.core.kernels import make_kernel

    ex = make_kernel("exact", SketchConfig.exact_mode(item_domain=64, n=16))
    st = {"items": np.array([3, 5, 5], dtype=np.int64),
          "values": np.array([1, 2, 1], dtype=np.int64),
          "ts": np.array([10, 20, 30], dtype=np.int64)}
    rt = ex.deserialize(ex.serialize(st))
    for k in st:
        assert (rt[k] == st[k]).all()
    empty = {"items": np.array([], dtype=np.int64),
             "values": np.array([], dtype=np.int64),
             "ts": np.array([], dtype=np.int64)}
    rt0 = ex.deserialize(ex.serialize(empty))
    assert len(rt0["items"]) == 0

    cm = make_kernel("cm", SketchConfig.realistic(n=16, item_domain=64))
    rng = np.random.default_rng(9)
    dense = rng.integers(0, 100, (cm.d, cm.w)).astype(np.int64)
    sparse = np.zeros((cm.d, cm.w), dtype=np.int64)
    sparse[0, 3] = 7
    sparse[cm.d - 1, cm.w - 1] = 11
    for st in (dense, sparse):
        assert (cm.deserialize(cm.serialize(st)) == st).all()
    payloads = [cm.serialize(dense), cm.serialize(sparse)]
    batch = cm.deserialize_batch(payloads)
    assert (batch[0] == dense).all() and (batch[1] == sparse).all()
    items = np.array([5, 9], dtype=np.int64)
    got = cm.query_items_batch(batch, items)
    want = [cm.query_item(dense, 5), cm.query_item(sparse, 9)]
    assert got.tolist() == want


def _zipf_stream(n=30000, domain=2000, seed=3):
    import numpy as np
    rng = np.random.default_rng(seed)
    items = (rng.zipf(1.3, n) % domain).astype(np.int64)
    values = np.ones(n, dtype=np.int64)
    ts = np.arange(n, dtype=np.int64)
    cells = np.zeros(n, dtype=np.int64)
    return cells, items, values, ts


def test_elastic_never_underestimates_and_total_exact():
    import numpy as np
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.core.kernels import make_kernel
    cfg = SketchConfig.realistic(n=16, item_domain=2000)
    es = make_kernel("elastic", cfg)
    cells, items, values, ts = _zipf_stream()
    uc, sts = es.build_grouped(cells, items, values, ts)
    st = sts[0]
    truth = np.bincount(items, minlength=2000)
    for it in range(0, 2000, 7):
        assert es.query_item(st, it) >= truth[it], it
    assert es.query_total(st) == len(items)


def test_elastic_merge_commutative_and_safe():
    import numpy as np
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.core.kernels import make_kernel
    cfg = SketchConfig.realistic(n=16, item_domain=2000)
    es = make_kernel("elastic", cfg)
    cells, items, values, ts = _zipf_stream()
    half = len(items) // 2
    _, a = es.build_grouped(cells[:half], items[:half], values[:half],
                            ts[:half])
    _, b = es.build_grouped(cells[half:], items[half:], values[half:],
                            ts[half:])
    m1, m2 = es.merge([a[0], b[0]]), es.merge([b[0], a[0]])
    truth = np.bincount(items, minlength=2000)
    for it in range(0, 2000, 7):
        e1, e2 = es.query_item(m1, it), es.query_item(m2, it)
        assert e1 == e2, it                      # commutative
        assert e1 >= truth[it], it               # never underestimates
    assert es.query_total(m1) == len(items)
    # serialize roundtrip (pickle path is fine for object states)
    rt = es.deserialize(es.serialize(m1))
    assert es.query_item(rt, 1) == es.query_item(m1, 1)


def test_elastic_same_budget_vs_cm():
    """The B9 parity measurement: at the same counter budget the
    heavy/light kernel must beat plain CM on a skewed stream (heavy
    hitters resident => exact), the documented reason the reference
    vendors ElasticSketch."""
    import numpy as np
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.core.kernels import make_kernel
    cfg = SketchConfig.realistic(n=16, item_domain=2000)
    es = make_kernel("elastic", cfg)
    cm = make_kernel("cm", cfg)
    cells, items, values, ts = _zipf_stream()
    _, es_sts = es.build_grouped(cells, items, values, ts)
    _, cm_sts = cm.build_grouped(cells, items, values, ts)
    truth = np.bincount(items, minlength=2000)
    es_err = cm_err = 0
    top = np.argsort(-truth)[:20]
    for it in range(2000):
        es_err += es.query_item(es_sts[0], it) - int(truth[it])
        cm_err += cm.query_item(cm_sts[0], it) - int(truth[it])
    # measured at this budget (84 counters): elastic ~35% lower total
    # overestimate than CM (516883 vs 792935 on this stream)
    assert es_err <= 0.8 * cm_err, (es_err, cm_err)
    # most of the top-10 heavy hitters answered exactly by the heavy part
    exact_top = sum(1 for it in top[:10]
                    if es.query_item(es_sts[0], int(it)) == int(truth[it]))
    assert exact_top >= 6, exact_top


def test_ecm_unit_fold_equals_insert_fold():
    """The closed-form unit-weight EH fold must produce bit-identical
    bucket structures to the per-event _eh_insert fold, across ks,
    stream lengths and hash collision patterns."""
    import numpy as np
    for k in (1, 2, 8, 64):
        kern = ECMKernel(width=8, depth=3, k=k, seed=7)
        rng = np.random.default_rng(41 + k)
        for n in (1, 2, 7, 100, 1003):
            items = rng.integers(0, 50, n).astype(np.int64)
            ts = np.sort(rng.integers(0, 10 * n, n)).astype(np.int64)
            cells = np.zeros(n, dtype=np.int64)
            ones = np.ones(n, dtype=np.int64)
            _, fast = kern.build_grouped(cells, items, ones, ts)
            # force the per-event path by temporarily lowering the cap
            cap = ECMKernel._UNIT_FOLD_MAX
            ECMKernel._UNIT_FOLD_MAX = 0
            try:
                _, slow = kern.build_grouped(cells, items, ones, ts)
            finally:
                ECMKernel._UNIT_FOLD_MAX = cap
            assert fast[0] == slow[0], (k, n)


def test_ecm_nonunit_values_mass_conserved():
    import numpy as np
    kern = ECMKernel(width=4, depth=2, k=2, seed=7)
    n = 200
    rng = np.random.default_rng(3)
    items = rng.integers(0, 9, n).astype(np.int64)
    ts = np.arange(n, dtype=np.int64)
    vals = rng.integers(1, 4, n).astype(np.int64)
    cells = np.zeros(n, dtype=np.int64)
    _, st = kern.build_grouped(cells, items, vals, ts)
    # total mass conserved per row
    for r in range(kern.d):
        tot = sum(b[0] for slot in st[0][r] for b in slot)
        assert tot == vals.sum()


def test_ecm_mixed_weight_fold_equals_insert_fold():
    """VERDICT r5 #7: the mixed-weight fast paths — per-run closed
    forms for piecewise-constant substreams with disjoint size
    classes, and the per-size-class _EHFold for arbitrary weights —
    must produce bit-identical bucket structures to the sequential
    per-event _eh_insert fold, across ks, stream lengths, hash
    collision patterns and weight shapes (dyadic collisions, disjoint
    runs, repeated-weight runs)."""
    import numpy as np

    def compare(kern, items, vals, ts):
        cells = np.zeros(len(items), dtype=np.int64)
        _, fast = kern.build_grouped(cells, items, vals, ts)
        cap = ECMKernel._UNIT_FOLD_MAX
        ECMKernel._UNIT_FOLD_MAX = 0
        try:
            _, slow = kern.build_grouped(cells, items, vals, ts)
        finally:
            ECMKernel._UNIT_FOLD_MAX = cap
        assert fast[0] == slow[0]

    rng = np.random.default_rng(7)
    for k in (1, 2, 8):
        kern = ECMKernel(width=4, depth=2, k=k, seed=7)
        for n in (100, 557, 2000):
            items = rng.integers(0, 40, n).astype(np.int64)
            ts = np.sort(rng.integers(0, 10 * n, n)).astype(np.int64)
            # arbitrary mixed weights incl. dyadic collisions (1,2,4)
            compare(kern, items, rng.integers(1, 5, n).astype(np.int64),
                    ts)
            # piecewise-constant disjoint-class runs (1 -> 3 -> 5)
            t3 = n // 3
            vals2 = np.concatenate([np.full(t3, 1), np.full(t3, 3),
                                    np.full(n - 2 * t3, 5)]) \
                .astype(np.int64)
            compare(kern, items, vals2, ts)
            # repeated-weight runs (self-collision -> _EHFold)
            vals3 = np.full(n, 2, dtype=np.int64)
            vals3[n // 2] = 3        # splits the run: 2..2,3,2..2
            compare(kern, items, vals3, ts)


def test_cm_codec_rejects_shape_mismatch():
    """A payload from a different eps/delta config must raise, not
    silently scatter counters into the wrong layout."""
    a = CMKernel(width=28, depth=3, seed=7)
    b = CMKernel(width=55, depth=4, seed=7)
    dense = np.arange(28 * 3, dtype=np.int64).reshape(3, 28)
    sparse = np.zeros((3, 28), dtype=np.int64)
    sparse[1, 5] = 9
    for st in (dense, sparse):
        blob = a.serialize(st)
        with pytest.raises(ValueError):
            b.deserialize(blob)
        with pytest.raises(ValueError):
            b.deserialize_batch([a.serialize(sparse)])


def test_eh_unit_counts_closed_form():
    """The closed digit formula the ECM DuckDB oracle rebuilds in SQL
    (gate_envelope.oracle_env_window_ecm) must equal the kernel's
    cascade recurrence for EVERY stream length: with m arrivals,
    capacity k and u = m + k, class counts are k + bit_i(u) below the
    top class t (largest t with (k+1)*2^t <= u) and (u >> t) - k at the
    top."""
    for k in (1, 2, 3, 5, 62):
        kern = ECMKernel(width=4, depth=1, k=k, seed=7)
        for m in range(20001):
            if m == 0:
                expect = ()
            else:
                u = m + k
                t = 0
                while (k + 1) << (t + 1) <= u:
                    t += 1
                expect = tuple([k + ((u >> i) & 1) for i in range(t)]
                               + [(u >> t) - k])
            assert kern._unit_counts(m) == expect, (k, m)


def test_ecm_mixed_weight_fold_cost_bound():
    """VERDICT r4 task 8 / r5 task 7: non-uniform value streams now
    fold through the per-size-class _EHFold (or per-run closed forms
    when run classes are disjoint) — one fully hot cell at realistic
    (w=28, d=3, k=2) parameters sustains ~200k events/s/core on this
    box, 4x the r5 per-event _eh_insert path. PIN the improved cost
    class at the 5x-the-old-floor level VERDICT asked for (25k ev/s,
    ~8x slack) so only a complexity-class regression, not box noise,
    can trip it. The map-side-combined build bounds any cell to one
    partition's events before merge, which is the structural
    mitigation at scale."""
    import time
    kern = ECMKernel(width=28, depth=3, k=2, seed=7)
    n = 60_000
    rng = np.random.default_rng(11)
    items = rng.integers(0, 256, n).astype(np.int64)
    vals = rng.integers(1, 5, n).astype(np.int64)   # non-uniform
    ts = np.arange(n, dtype=np.int64)
    cells = np.zeros(n, dtype=np.int64)
    t0 = time.perf_counter()
    _, st = kern.build_grouped(cells, items, vals, ts)
    rate = n / (time.perf_counter() - t0)
    assert rate > 25_000, f"mixed-weight ECM fold: {rate:,.0f} ev/s"
    # mass conservation on the same build (cheap invariant)
    for r in range(kern.d):
        tot = sum(b[0] for slot in st[0][r] for b in slot)
        assert tot == vals.sum()


def _elastic_state_eq(a, b):
    if not np.array_equal(a["light"], b["light"]):
        return False
    if not np.array_equal(a["guard"], b["guard"]):
        return False
    return [dict(bkt) for bkt in a["heavy"]] == \
           [dict(bkt) for bkt in b["heavy"]]


def test_elastic_fast_path_identical():
    """VERDICT r6 task 2: the vectorized non-contended-bucket fold must
    be bit-identical to the full sequential insert — including light
    array, guards, counts AND flags — across skew regimes (all-light
    uniform, Zipf-hot with evictions, tiny domains where every bucket
    is contended, mixed weights)."""
    from spatialsketch_spark.core.kernels import ElasticKernel
    rng = np.random.default_rng(17)
    cases = [
        (rng.integers(0, 40, 5000), np.ones(5000)),          # few keys
        ((rng.zipf(1.2, 8000) % 3000), np.ones(8000)),       # zipf hot
        (rng.integers(0, 3000, 8000),
         rng.integers(1, 7, 8000)),                          # dense+wts
        (rng.integers(0, 9, 300), np.ones(300)),             # <= slots
        (np.array([], dtype=np.int64), np.array([])),        # empty
    ]
    for b, slots in ((8, 4), (2, 2), (1, 1)):
        kern = ElasticKernel(n_buckets=b, slots=slots, light_width=32,
                             lam=8, seed=7)
        for items, values in cases:
            items = items.astype(np.int64)
            values = values.astype(np.int64)
            bpos, lpos = (kern._positions(items) if len(items)
                          else (items, items))
            st_fast = kern._new_state()
            kern._insert_fast(st_fast, items, values, bpos, lpos)
            st_seq = kern._new_state()
            kern._insert_seq(st_seq, items, values, bpos, lpos)
            assert _elastic_state_eq(st_fast, st_seq), (b, slots)
            # and through the public grouped-build entry point
            cells = (items % 3).astype(np.int64)
            ts = np.arange(len(items), dtype=np.int64)
            uc, sts = kern.build_grouped(cells, items, values, ts)
            total = sum(kern.query_total(s) for s in sts)
            assert total == int(values.sum())


def test_elastic_build_cost_bound():
    """VERDICT r6 task 2 (the ECM `_EHFold` treatment for elastic): a
    fully hot cell at realistic parameters must sustain a floor that
    only a complexity-class regression can trip. With the vectorized
    non-contended fold this box runs the realistic mixed regime at
    >1M ev/s (most buckets never contend) and the WORST case — every
    bucket contended, constant evictions — at ~150k ev/s via the
    per-call light-position map; pin both well under measured (8x /
    5x slack) so box noise can't flake, mirroring
    test_ecm_mixed_weight_fold_cost_bound."""
    import time
    from spatialsketch_spark.core.kernels import ElasticKernel
    rng = np.random.default_rng(11)
    n = 200_000
    ts = np.arange(n, dtype=np.int64)
    cells = np.zeros(n, dtype=np.int64)

    # realistic regime: large domain over a realistic budget — the
    # common case the fast path vectorizes
    kern = ElasticKernel(n_buckets=4096, slots=4, light_width=4096,
                         lam=8, seed=7)
    items = (rng.zipf(1.3, n) % 100_000).astype(np.int64)
    vals = rng.integers(1, 5, n).astype(np.int64)
    t0 = time.perf_counter()
    _, st = kern.build_grouped(cells, items, vals, ts)
    rate = n / (time.perf_counter() - t0)
    assert rate > 125_000, f"elastic realistic build: {rate:,.0f} ev/s"
    tot = sum(c for bkt in st[0]["heavy"] for c, _ in bkt.values())
    assert tot + int(st[0]["light"].sum()) == int(vals.sum())

    # adversarial regime: tiny table, every bucket contended — the
    # sequential fallback's own floor
    kern2 = ElasticKernel(n_buckets=16, slots=4, light_width=64,
                          lam=8, seed=7)
    items2 = rng.integers(0, 10_000, n).astype(np.int64)
    t0 = time.perf_counter()
    _, st2 = kern2.build_grouped(cells, items2, vals, ts)
    rate2 = n / (time.perf_counter() - t0)
    assert rate2 > 30_000, f"elastic contended build: {rate2:,.0f} ev/s"


def _cm_encode_cases(cm):
    """(C, d, w) counter stacks covering every CM payload layout."""
    rng = np.random.default_rng(21)
    size = cm.d * cm.w
    st = np.zeros((7, cm.d, cm.w), dtype=np.int64)       # row 0: all zero
    st[1].flat[[0, size - 1]] = [5, -3]                  # sparse
    st[2].flat[:size // 2] = 1                           # nnz*2 == d*w: dense
    st[3].flat[:size // 2 - 1] = 2                       # one below: sparse
    st[4] = rng.integers(1, 50, (cm.d, cm.w))            # full dense
    st[5].flat[rng.choice(size, size // 3, replace=False)] = 7
    st[6].flat[size // 2:] = rng.integers(1, 9, size - size // 2)
    return st


def test_cm_encode_batch_matches_serialize():
    """The vectorized CM encoder writes the same canonical CMS/CMD bytes
    as serialize(), cell for cell: sparse and dense cells, the
    nnz*2 == d*w boundary and all-zero counters."""
    cm = CMKernel(width=28, depth=3, seed=7)
    st = _cm_encode_cases(cm)
    assert np.count_nonzero(st[2]) * 2 == st[2].size
    for states in (st, st[::-1], st[:1], st[:0], list(st)):
        offsets, data = cm.encode_batch(states)
        want = [cm.serialize(s) for s in states]
        assert offsets[0] == 0 and offsets[-1] == len(data)
        got = [data[a:b].tobytes() for a, b in zip(offsets[:-1],
                                                   offsets[1:])]
        assert got == want
    # the boundary case really is dense, its neighbour sparse
    assert cm.serialize(st[2])[:3] == b"CMD"
    assert cm.serialize(st[3])[:3] == b"CMS"


def test_default_encode_batch_matches_serialize():
    fm = FMKernel(eps=0.25, delta=0.05, seed=7)
    cells, items, values, ts = rand_events(500, 1000, seed=4)
    _, states = fm.build_grouped(cells, items, values, ts)
    offsets, data = fm.encode_batch(states)
    assert [data[a:b].tobytes() for a, b in zip(offsets[:-1], offsets[1:])] \
        == [fm.serialize(s) for s in states]


def test_cm_deserialize_rejects_unknown_magic():
    import pickle
    cm = CMKernel(width=28, depth=3, seed=7)
    legacy = pickle.dumps(("d", np.zeros((3, 28), dtype=np.int64)))
    for blob in (legacy, b"XK1\x00\x00\x00\x00\x00" + bytes(16)):
        with pytest.raises(ValueError, match="not a CM payload"):
            cm.deserialize(blob)
        with pytest.raises(ValueError, match="not a CM payload"):
            cm.deserialize_batch([blob])


@pytest.mark.parametrize("dropped", [frozenset(),
                                     frozenset({(0, 0), (0, 3), (2, 1),
                                                (4, 4), (6, 0), (3, 6)})])
def test_pyramid_groups_equal_per_grid_unique(dropped):
    """One sort per x-level, coarser y-levels derived from the finer
    level's cells == an independent np.unique per grid (N=64,
    min_level 0, with and without dropped grids)."""
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.geo.build import live_grids, pyramid_groups
    n = 64
    cfg = SketchConfig.realistic(n=n, dropped_grids=dropped)
    rng = np.random.default_rng(5)
    x = rng.integers(0, n, 3000)
    y = np.minimum(rng.geometric(0.05, 3000) - 1, n - 1)
    values = rng.integers(-3, 10, 3000)
    grids = live_grids(cfg, 0)
    seen = []
    for kx, ky, cells, inv, counts, vsums in pyramid_groups(
            x, y, values, n, grids):
        seen.append((kx, ky))
        uc, uinv = np.unique((x >> kx) * n + (y >> ky), return_inverse=True)
        np.testing.assert_array_equal(cells, uc)
        np.testing.assert_array_equal(inv, uinv)
        np.testing.assert_array_equal(counts, np.bincount(uinv))
        np.testing.assert_array_equal(
            vsums, np.bincount(uinv, weights=values).astype(np.int64))
    assert sorted(seen) == sorted(grids)


def test_sketch_batches_split_payload_bytes():
    """Payload columns carry int32 offsets: rows are cut into batches
    that each stay within the byte limit, losing nothing."""
    from spatialsketch_spark.geo.build import _sketch_batches
    blobs = [bytes([i]) * (i + 1) for i in range(10)]
    offsets = np.concatenate([[0], np.cumsum([len(b) for b in blobs])])
    data = np.frombuffer(b"".join(blobs), np.uint8)
    ar = np.arange(10, dtype=np.int64)
    batches = list(_sketch_batches(ar.astype(np.int32), ar, offsets, data,
                                   ar, ar, max_bytes=12))
    assert len(batches) > 1
    assert all(sum(len(p) for p in b.column("payload").to_pylist()) <= 12
               for b in batches)
    assert [p for b in batches for p in b.column("payload").to_pylist()] \
        == blobs
    assert [c for b in batches for c in b.column("cell").to_pylist()] \
        == ar.tolist()
    with pytest.raises(ValueError, match="exceeds"):
        list(_sketch_batches(ar.astype(np.int32), ar, offsets, data, ar, ar,
                             max_bytes=5))


@pytest.mark.parametrize("kind", ["cm", "fm"])
def test_spark_build_equals_reference_table(spark, kind):
    """A Spark build (Arrow partials, vectorized CM encoder / default
    encoder for FM, merge of partials across 3 partitions) equals a
    table assembled per grid from build_grouped + serialize."""
    from spatialsketch_spark.config import SketchConfig
    from spatialsketch_spark.core.kernels import make_kernel
    from spatialsketch_spark.geo.build import build_sketch_df, live_grids
    n = 64
    cfg = SketchConfig.realistic(n=n, item_domain=500,
                                 dropped_grids=frozenset({(1, 2)}))
    rng = np.random.default_rng(8)
    m = 4000
    ev = {"ts": np.arange(m, dtype=np.int64),
          "item": rng.integers(0, 500, m).astype(np.int64),
          "x": rng.integers(0, n, m).astype(np.int64),
          "y": np.minimum(rng.geometric(0.04, m) - 1, n - 1).astype(np.int64),
          "value": rng.integers(1, 4, m).astype(np.int64)}
    df = spark.createDataFrame(
        list(zip(*(ev[c].tolist() for c in ev))),
        "ts BIGINT, item BIGINT, x BIGINT, y BIGINT, value BIGINT")
    got = sorted((r["grid_key"], r["cell"], bytes(r["payload"]),
                  r["n_events"], r["val_sum"])
                 for r in build_sketch_df(df, cfg, kind, 1, num_partitions=3,
                                          mode="partials").collect())
    kernel = make_kernel(kind, cfg)
    want = []
    for kx, ky in live_grids(cfg, 1):
        keys = (ev["x"] >> kx) * n + (ev["y"] >> ky)
        uc, states = kernel.build_grouped(keys, ev["item"], ev["value"],
                                          ev["ts"])
        _, inv = np.unique(keys, return_inverse=True)
        cnt = np.bincount(inv)
        vs = np.bincount(inv, weights=ev["value"]).astype(np.int64)
        want += [(cfg.grid_key(kx, ky), int(c), kernel.serialize(s),
                  int(cnt[i]), int(vs[i]))
                 for i, (c, s) in enumerate(zip(uc.tolist(), states))]
    assert got == sorted(want)
